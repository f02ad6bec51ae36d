"""Time-series queries: event-time windows, temporal joins and the daily
revenue series.

Tumbling/rolling/range windows, as-of and interval joins, gap filling
and interpolation, resampling, smoothing and forecasting baselines,
trend, changepoint, autocorrelation and unit-root tests, and risk
metrics over the daily and weekly series.

docs/CROSS_ENGINE.md rules throughout: rule-11 epoch arithmetic for
every calendar step, exact integer/DECIMAL moments with one shared IEEE
tree per float, truncating ``DIV`` fixed point, and bounded windows
only (calendar day grids, per-key histories).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq, joins, ranking
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import (
    _DAY,
    _DEC6,
    _SPLIT_DUCK,
    _SPLIT_SPARK,
    _cents,
    _du,
    _sp,
    _split_double,
)
from etl_seattle_call_data_spark.sources.registry import load_table, load_tables


@register(
    "tumbling_window_counts",
    "Tumbling 10-minute event-time window aggregation — the batch form of "
    "the engine's watermarked streaming aggregation (T6; the streaming "
    "variant is tested in tests/test_streaming.py).",
    """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "rolling_revenue_30d",
    "Time-RANGE rolling window: per customer, each order's trailing-30-day "
    "order count and revenue (frame on epoch seconds, not row counts — "
    "value-based frames are deterministic under ties).",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_revenue,
           COUNT(*) OVER w AS roll_n
    FROM (SELECT *, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_epoch FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_epoch
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_revenue_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_epoch", F.unix_timestamp("o_orderdate")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_epoch")
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("roll_revenue"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


# ---------------------------------------------------------------------------
# Temporal joins: as-of and bounded range (operators/joins.py)
# ---------------------------------------------------------------------------


@register(
    "asof_last_click_before_purchase",
    "Backward as-of join: for each purchase event, the user's most recent "
    "click at-or-before it (ties → max event_id) — union+window plan, one "
    "shuffle on user_id, no inequality join (operators/joins.py).",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.purchase_id, p.user_id, c.click_id,
             CAST(floor(epoch(p.p_ts)) - floor(epoch(c.c_ts)) AS BIGINT) AS gap_s,
             ROW_NUMBER() OVER (
               PARTITION BY p.purchase_id
               ORDER BY c.c_ts DESC NULLS LAST, c.click_id DESC) AS rn
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.c_ts <= p.p_ts
    )
    -- COALESCE: unmatched purchases → -1 sentinel, keeping the output
    -- NULL-free (pandas widens nullable BIGINT to float64)
    SELECT purchase_id, user_id,
           COALESCE(click_id, -1) AS click_id,
           COALESCE(gap_s, -1) AS gap_s
    FROM j WHERE rn = 1
    """,
)
def q_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    j = joins.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        tie_col="event_id",
        right_payload=["event_id", "ts"],
        prefix="click_",
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.coalesce(F.col("click_event_id"), F.lit(-1)).alias("click_id"),
        F.coalesce(
            F.unix_timestamp("ts") - F.unix_timestamp("click_ts"), F.lit(-1)
        ).alias("gap_s"),
    )


@register(
    "range_clicks_10min_before_purchase",
    "Bounded range join: clicks in the 10 minutes before each purchase, "
    "counted per purchase (zero-match purchases kept) — time-bucket "
    "equi-join rewrite, constant fan-out, no theta join "
    "(operators/joins.py).",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id, count(c.c_us) AS n_clicks
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.c_us >= p.p_us - 600000000
     AND c.c_us < p.p_us
    GROUP BY 1, 2
    """,
)
def q_range_clicks_10min_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    counted = joins.range_join_count(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower_offset_s=-600,
        upper_offset_s=0,
        left_id="event_id",
        count_alias="n_clicks",
    )
    return counted.select(F.col("event_id").alias("purchase_id"), "user_id", "n_clicks")


@register(
    "timeseries_gapfill_locf",
    "Time-series gap filling: a dense (user × day) spine generated with "
    "sequence+explode, left-joined against daily aggregates, missing "
    "days filled by last-observation-carried-forward (ignore-nulls "
    "last() window). The spine is generated, never materialized as a "
    "source: rows = users × horizon regardless of event sparsity, and "
    "the LOCF window is one shuffle on user.",
    """
    WITH spine AS (
      SELECT u.user_id, CAST(d.d AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (
        SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS d
      ) d
    ),
    daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS day_avg
      FROM events GROUP BY 1, 2
    )
    SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
           daily.day_avg IS NOT NULL AS observed,
           COALESCE(last_value(daily.day_avg IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0) AS filled_avg
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day
    """,
)
def q_timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("day_avg")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, on=["user_id", "day"], how="left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("day_avg").isNotNull().alias("observed"),
            F.coalesce(
                F.last("day_avg", ignorenulls=True).over(w), F.lit(-1.0)
            ).alias("filled_avg"),
        )
    )


@register(
    "twap_user_value",
    "Time-weighted average value per user: each event's value holds "
    "until the next event (lead over (ts, event_id)); TWAP = "
    "Σ(v·holding_seconds)/Σ(holding_seconds). Exactness: v quantizes "
    "to 1e-6 longs and the weighted sum accumulates in DECIMAL(38,0) — "
    "exact integer arithmetic, one double division at the end. The "
    "final (open-ended) event carries zero weight.",
    """
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS qv,
             CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS BIGINT) AS hold_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    agg AS (
      SELECT user_id,
             COUNT(*) AS n_holds,
             CAST(SUM(hold_us) AS BIGINT) AS total_us,
             SUM(CAST(qv AS HUGEINT) * CAST(hold_us AS HUGEINT)) AS wsum
      FROM seq WHERE hold_us IS NOT NULL AND hold_us > 0
      GROUP BY user_id
    )
    -- exact quotient+remainder: wsum is ~1e20, past DOUBLE's 2^53 —
    -- and DuckDB's HUGEINT→DOUBLE conversion double-rounds while
    -- Spark's BigDecimal→double is correctly rounded (1-ulp drift).
    -- q <= 1e9 and rem < total_us < 2^53 convert EXACTLY on both.
    SELECT user_id, n_holds, total_us,
           (CAST(CAST(wsum // total_us AS BIGINT) AS DOUBLE)
            + CAST(CAST(wsum % total_us AS BIGINT) AS DOUBLE)
              / CAST(total_us AS DOUBLE)) / 1000000.0 AS twap
    FROM agg
    """,
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    qv = F.round(F.col("value") * 1000000.0).cast("long")
    hold_us = (
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    ).cast("long")
    seq = ev.select(
        "user_id", qv.alias("qv"), hold_us.alias("hold_us")
    ).filter(F.col("hold_us").isNotNull() & (F.col("hold_us") > 0))
    agg = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_holds"),
        F.sum("hold_us").cast("bigint").alias("total_us"),
        F.sum(
            F.col("qv").cast("decimal(38,0)") * F.col("hold_us").cast("decimal(38,0)")
        ).alias("wsum"),
    )
    quot = F.expr("CAST(wsum DIV total_us AS BIGINT)").cast("double")
    rem = F.expr("CAST(wsum % total_us AS BIGINT)").cast("double")
    return agg.select(
        "user_id",
        "n_holds",
        "total_us",
        ((quot + rem / F.col("total_us").cast("double")) / F.lit(1000000.0)).alias(
            "twap"
        ),
    )


# ---------------------------------------------------------------------------
# Financial-style OHLC resampling (min_by/max_by, no window sort)


@register(
    "ohlc_resample_hourly",
    "OHLC time-series resampling: per (event_type, hour) the opening "
    "value (first by time), closing value (last by time), high, low, "
    "and tick count — the financial-bar downsample, computed as ONE "
    "hash aggregate with min_by/max_by instead of a window sort over "
    "the full stream. Ordering ties broken by the unique event_id via "
    "the same collision-free BIGINT encoding as latest_order_maxby; "
    "values pass through untouched (no float arithmetic to diverge). "
    "The oracle's epoch term is epoch_us//1000000 — TRUNCATION, like "
    "Spark's unix_timestamp — because DuckDB's epoch() ROUNDS "
    "fractional seconds (CROSS_ENGINE rule 11; rounding only masked "
    "by monotone event ids in the generated data).",
    """
    SELECT event_type,
           date_trunc('hour', ts) AS bar_hour,
           arg_min(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id)
             AS open_value,
           arg_max(value, (epoch_us(ts) // 1000000) * 1000000000 + event_id)
             AS close_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM events
    GROUP BY event_type, bar_hour
    """,
)
def q_ohlc_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = (
        F.unix_timestamp("ts").cast("long") * F.lit(1000000000).cast("long")
        + F.col("event_id")
    )
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bar_hour")
    ).agg(
        F.min_by("value", seq).alias("open_value"),
        F.max_by("value", seq).alias("close_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency (the O(n log n) alternative to overlap joins)


@register(
    "peak_concurrency_sweepline",
    "Peak interval concurrency per event type, each event held open 5 "
    "minutes: the sweep-line rewrite — explode every interval into a "
    "(+1 start, -1 end) point, running-sum the deltas in time order, "
    "take the max — versus the naive self-join on range overlap which "
    "is O(n²) candidates and unusable at 100 TB. The running sum is "
    "TWO-PHASE so parallelism scales with the timeline, not the ~5-"
    "value type key: points window locally inside (type, day) chunks "
    "(#types × #days partitions), per-day delta totals roll into "
    "broadcast prefix offsets via a window over the tiny daily "
    "aggregate, and open_now = local_prefix + offset — no task ever "
    "serializes more than one type-day of points. End points sort "
    "before coincident starts (delta ASC in the tie), so back-to-back "
    "intervals never count as concurrent; the per-row running sum is "
    "tie-order-sensitive but its MAX is not (delta groups at one "
    "instant are sign-homogeneous), so only the aggregate is emitted.",
    """
    WITH pts AS (
      SELECT event_type, ts AS t, 1 AS d FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 5 MINUTE AS t, -1 AS d FROM events
    ),
    sweep AS (
      SELECT event_type,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS open_now
      FROM pts
    )
    SELECT event_type, CAST(MAX(open_now) AS BIGINT) AS peak_concurrency
    FROM sweep GROUP BY event_type
    """,
)
def q_peak_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # both sweep points of every interval from ONE pruned (type, ts) scan
    # — a UNION of start/end projections would scan events once per arm
    # per consumer (4 scans here: the window branch and the daily-total
    # branch each read both arms)
    pts = (
        ev.select(
            "event_type",
            F.explode(
                F.array(
                    F.struct(F.col("ts").alias("t"), F.lit(1).alias("d")),
                    F.struct(
                        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("p"),
        )
        .select("event_type", F.col("p.t").alias("t"), F.col("p.d").alias("d"))
        .withColumn("__day", F.date_trunc("day", F.col("t")))
    )
    w_local = (
        Window.partitionBy("event_type", "__day")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pts.withColumn("__local", F.sum("d").over(w_local))
    # per-(type, day) delta totals -> prefix offsets; a map-side partial
    # aggregate over the same point stream (tiny shuffle: #types x #days)
    daily = pts.groupBy("event_type", "__day").agg(F.sum("d").alias("__dd"))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = daily.select(
        "event_type",
        "__day",
        F.coalesce(F.sum("__dd").over(w_off), F.lit(0)).alias("__offset"),
    )
    sweep = local.join(F.broadcast(offsets), ["event_type", "__day"]).withColumn(
        "open_now", F.col("__local") + F.col("__offset")
    )
    return sweep.groupBy("event_type").agg(
        F.max("open_now").cast("bigint").alias("peak_concurrency")
    )


# ---------------------------------------------------------------------------
# Time-zone-aware local-time analytics (IANA rules incl. DST)


@register(
    "tz_local_hour_activity",
    "Wall-clock activity profile: events bucketed by their "
    "America/Los_Angeles LOCAL hour-of-day — UTC-stored timestamps "
    "shifted through real IANA rules, so DST transitions move the "
    "bucket boundary (UTC−7 summer, UTC−8 winter; the Spark "
    "from_utc_timestamp ≡ DuckDB timezone(tz, timezone('UTC', ts)) "
    "equivalence is itself what the oracle certifies, session-tz-"
    "independent on both engines). Value sums decimal-exact; one "
    "shuffle on the 24×5 bucket key.",
    """
    SELECT event_type,
           CAST(hour(timezone('America/Los_Angeles', timezone('UTC', ts)))
                AS INTEGER) AS local_hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type, local_hour
    """,
)
def q_tz_local_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    local = F.from_utc_timestamp(F.col("ts"), "America/Los_Angeles")
    return (
        ev.groupBy(
            "event_type", F.hour(local).cast("int").alias("local_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC6)).alias("sum_dec"),
        )
        .select(
            "event_type",
            "local_hour",
            "n",
            F.col("sum_dec").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Period-over-period growth (the BI WoW/MoM report shape)


@register(
    "revenue_wow_growth",
    "Week-over-week revenue growth per order priority: weekly decimal-"
    "exact revenue, lag(1) over the week sequence, growth = one double "
    "division (sentinel -999.0 for each priority's first week — a "
    "NULL would canonicalize as NaN on one engine and None on the "
    "other, and growth is structurally > -1 so the sentinel is "
    "unambiguous). "
    "Aggregate first (the window runs over the ~priority×weeks rollup, "
    "never fact granularity); one fact shuffle, one tiny window sort.",
    """
    WITH weekly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      GROUP BY o_orderpriority, week
    )
    SELECT priority, week,
           CAST(rev AS DOUBLE) AS revenue,
           COALESCE(CAST(rev AS DOUBLE)
             / CAST(lag(rev) OVER (PARTITION BY priority ORDER BY week) AS DOUBLE)
             - 1.0, -999.0) AS wow_growth
    FROM weekly
    """,
)
def q_revenue_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("week", F.col("o_orderdate")).alias("week"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.partitionBy("priority").orderBy("week")
    return weekly.select(
        "priority",
        "week",
        F.col("rev").cast("double").alias("revenue"),
        F.coalesce(
            F.col("rev").cast("double") / F.lag("rev").over(w).cast("double")
            - F.lit(1.0),
            F.lit(-999.0),
        ).alias("wow_growth"),
    )


# ---------------------------------------------------------------------------
# Interval overlap join via time-bucket blocking (band join)


@register(
    "interval_overlap_pairs",
    "Band (interval-overlap) join AS AN AGGREGATE: count cross-type "
    "event pairs within ±2 minutes of each other, WITHOUT materializing "
    "the pairs. The naive theta-join is O(n²); a 2-minute bucket join "
    "(the round-4 plan) is O(density²·buckets) — the registry's worst "
    "measured grower at 1.36x/R because replication densifies a fixed "
    "calendar. This plan is O(n): per counted type X, an inclusive "
    "running count over the event timeline (two_phase_cumsum_in_groups "
    "— no type ever serializes through one task) read at signed probe "
    "markers t+W (+1) and t−W−1 (−1) placed by every event of a later "
    "type Y; Σ sign·cum grouped by (X, Y) telescopes to the exact pair "
    "count (prefix-sum differencing, integer-exact, ties resolved by "
    "ordering counted rows before markers at equal microseconds). The "
    "oracle states the same semantics as a direct range join (DuckDB "
    "IEJoin handles oracle-scale data).",
    """
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.event_type < b.event_type
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000
    GROUP BY a.event_type, b.event_type
    """,
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (round 9, best-of-reps, tuned session): 1.16 s sf0.1 /
    2.77 s sf1 / 27.3 s sf10 = 0.99x/R — LINEAR, where the old
    2-minute-bucket pair join measured 0.58 / 4.18 / 27.2 s: cheaper
    at the overhead-dominated gate SF, equal at sf10, and
    density-QUADRATIC beyond it (pair volume x100 per decade — at the
    third decade the bucket join does ~100x this plan's work). The
    committed BENCH_SUBSET_sf{1,10}.json snapshots predate this
    rewrite for this query (both captured the old plan, so the pair
    stays internally consistent); the numbers above are the rewrite's
    own fresh measurements."""
    W = 120_000_000
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("etype"), F.unix_micros(F.col("ts")).alias("us")
    )
    types = ev.select(F.col("etype").alias("type_a")).distinct()
    # counted rows: each event counts for its own type's timeline
    counted = ev.select(
        F.col("etype").alias("type_a"),
        F.lit(None).cast(ev.schema["etype"].dataType).alias("type_b"),
        F.col("us").alias("us_key"),
        F.lit(0).alias("flag"),
        F.lit(1).alias("w"),
        F.lit(0).alias("sign"),
    )
    # probe markers: every event of type Y probes every EARLIER type X
    # (type_a < type_b orients each unordered pair once); fan-out is
    # 2 x (#types smaller than Y) per event — types are a bounded
    # categorical domain, so this is a constant-factor explode
    marks = (
        ev.join(F.broadcast(types), F.col("type_a") < F.col("etype"))
        .select(
            "type_a",
            F.col("etype").alias("type_b"),
            "us",
            F.explode(
                F.array(
                    F.struct(
                        (F.col("us") + W).alias("us_key"), F.lit(1).alias("sign")
                    ),
                    F.struct(
                        (F.col("us") - W - 1).alias("us_key"), F.lit(-1).alias("sign")
                    ),
                )
            ).alias("m"),
        )
        .select(
            "type_a",
            "type_b",
            F.col("m.us_key").alias("us_key"),
            F.lit(1).alias("flag"),
            F.lit(0).alias("w"),
            F.col("m.sign").alias("sign"),
        )
    )
    tl = counted.unionByName(marks)
    # r11 (§5 spill, VERDICT item 4): materialize=False — the cumsum
    # helper's default checkpoint would MATERIALIZE this
    # ~(1 + 2·#smaller-types)·|events| marker stream to executor
    # storage, which is exactly what ground at the third decade (sf100:
    # 369.5 s, 2.91×/R with rows growing ×10). The upstream is a cheap
    # scan + broadcast join + in-row explode with NO shuffle — the
    # CLAUDE.md skipgram class — so letting the totals branch and the
    # window probe each re-derive it pipelines two linear passes
    # instead of writing the widest frame in the plan to disk.
    cum = ranking.two_phase_cumsum_in_groups(
        tl,
        group_cols=["type_a"],
        order_by=["us_key", "flag"],
        coarse=F.expr("us_key DIV 3600000000"),
        weight=F.col("w"),
        cum_name="__cum",
        materialize=False,
    )
    return (
        cum.filter(F.col("flag") == 1)
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.col("sign") * F.col("__cum")).cast("bigint").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (companion to timeseries_gapfill_locf)


@register(
    "timeseries_interpolate_linear",
    "Time-series gap filling by LINEAR interpolation between the "
    "nearest observed neighbors — the numeric upgrade over LOCF for "
    "sensor/metric series: missing (user, day) cells get "
    "v_prev + (v_next − v_prev)·(d − d_prev) DIV (d_next − d_prev) in "
    "exact fixed point (daily sums quantized to round(value·100)). The "
    "dense spine is generated (sequence+explode, never a source); prev/"
    "next neighbors come from 4 ignore-nulls window columns in ONE "
    "per-user window pass; series edges (no neighbor on one side) "
    "yield the −1 sentinel. Survives 100x: rows = users × horizon, one "
    "user-keyed shuffle, per-user timelines stay parallel.",
    """
    WITH spine AS (
      SELECT u.user_id, CAST(d.d AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (
        SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS d
      ) d
    ),
    daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT s.user_id, s.day,
             CAST(date_diff('day', DATE '1970-01-01', s.day) AS BIGINT) AS dd,
             daily.v
      FROM spine s LEFT JOIN daily
        ON s.user_id = daily.user_id AND s.day = daily.day
    ),
    nb AS (
      SELECT user_id, day, dd, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
             last_value(CASE WHEN v IS NOT NULL THEN dd END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
             first_value(CASE WHEN v IS NOT NULL THEN dd END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
      FROM j
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           v IS NOT NULL AS observed,
           CAST(CASE
             WHEN v IS NOT NULL THEN v
             WHEN vp IS NOT NULL AND vn IS NOT NULL AND dn <> dp
               THEN vp + ((vn - vp) * (dd - dp)) // (dn - dp)
             ELSE -1 END AS BIGINT) AS filled_fp
    FROM nb
    """,
)
def q_timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("v")
    )
    j = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("dd"),
        "v",
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("dd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("dd")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    dd_if_obs = F.when(F.col("v").isNotNull(), F.col("dd"))
    nb = j.select(
        "user_id",
        "day",
        "dd",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("vp"),
        F.last(dd_if_obs, ignorenulls=True).over(back).alias("dp"),
        F.first("v", ignorenulls=True).over(fwd).alias("vn"),
        F.first(dd_if_obs, ignorenulls=True).over(fwd).alias("dn"),
    )
    interp = F.expr("vp + ((vn - vp) * (dd - dp)) DIV (dn - dp)")
    return nb.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("vp").isNotNull()
            & F.col("vn").isNotNull()
            & (F.col("dn") != F.col("dp")),
            interp,
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("filled_fp"),
    )


# ---------------------------------------------------------------------------
# Truncated EWMA (8-lag, α = 1/2) per user event stream


_EWMA_W = [2 ** (7 - k) for k in range(8)]  # 128, 64, ..., 1


@register(
    "ewma_user_value",
    "Exponentially weighted moving average of each user's event values "
    "(α=1/2, truncated at 8 lags) evaluated at the user's latest "
    "event — the recursive smoother made CROSS-ENGINE EXACT by "
    "unrolling to integer lag weights 128..1 over round(value·100) "
    "quantities: ewma_fp = Σ wᵏ·vₖ DIV Σ wᵏ (weights only for lags "
    "that exist, so early-series rows stay exact). One window pass per "
    "user timeline (8 lag() columns share the single sort), top-25 "
    "users by final EWMA with full tie-break. The 8-term truncation "
    "bounds state per row — the full recursion needs running-product "
    "state no engine shares exactly.",
    f"""
    WITH v AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS q,
             epoch_us(ts) AS tu, event_id
      FROM events WHERE value IS NOT NULL
    ),
    lagd AS (
      SELECT user_id, q, tu, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tu DESC, event_id DESC)
               AS rdesc,
             {", ".join(
                 f"lag(q, {k}) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS l{k}"
                 for k in range(1, 8)
             )}
      FROM v
    ),
    e AS (
      SELECT user_id,
             ({" + ".join(["q * 128"] + [f"COALESCE(l{k} * {_EWMA_W[k]}, 0)" for k in range(1, 8)])})
             // (128{"".join(f" + CASE WHEN l{k} IS NOT NULL THEN {_EWMA_W[k]} ELSE 0 END" for k in range(1, 8))})
               AS ewma_fp
      FROM lagd WHERE rdesc = 1
    )
    SELECT user_id, CAST(ewma_fp AS BIGINT) AS ewma_fp FROM e
    ORDER BY ewma_fp DESC, user_id LIMIT 25
    """,
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("q"),
        F.unix_micros("ts").alias("tu"),
        "event_id",
    )
    asc = Window.partitionBy("user_id").orderBy("tu", "event_id")
    desc = Window.partitionBy("user_id").orderBy(
        F.col("tu").desc(), F.col("event_id").desc()
    )
    lagd = v.select(
        "user_id",
        "q",
        F.row_number().over(desc).alias("rdesc"),
        *[F.lag("q", k).over(asc).alias(f"l{k}") for k in range(1, 8)],
    )
    num = " + ".join(
        ["q * 128"] + [f"COALESCE(l{k} * {_EWMA_W[k]}, 0)" for k in range(1, 8)]
    )
    den = "128" + "".join(
        f" + CASE WHEN l{k} IS NOT NULL THEN {_EWMA_W[k]} ELSE 0 END"
        for k in range(1, 8)
    )
    return (
        lagd.filter(F.col("rdesc") == 1)
        .select(
            "user_id",
            F.expr(f"CAST(({num}) DIV ({den}) AS BIGINT)").alias("ewma_fp"),
        )
        .orderBy(F.col("ewma_fp").desc(), "user_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue series


@register(
    "revenue_max_drawdown",
    "Maximum drawdown of daily order revenue — the peak-to-trough "
    "risk metric: running peak via a cumulative-max window, drawdown "
    "= peak − value, report the deepest one and its day. Daily totals "
    "are exact cents from one aggregate; every window runs over the "
    "BOUNDED day table (rows = horizon days, sketch-sized state — "
    "the same bounded-window contract as the KS bucket grid), so the "
    "fact table never meets a window. Deterministic day tie-break on "
    "the earliest deepest day.",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT day, rev_cents,
             MAX(rev_cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_cents
      FROM daily
    ),
    w AS (
      SELECT day, rev_cents, peak_cents,
             peak_cents - rev_cents AS drawdown_cents
      FROM dd
    ),
    mx AS (SELECT MAX(drawdown_cents) AS mdd FROM w)
    SELECT CAST(MIN(w.day) AS BIGINT) AS drawdown_day,
           CAST(mx.mdd AS BIGINT) AS max_drawdown_cents,
           CAST(COUNT(*) AS BIGINT) AS n_days_at_max
    FROM w JOIN mx ON w.drawdown_cents = mx.mdd
    GROUP BY mx.mdd
    """,
)
def q_revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    # bounded window: one row per day of the horizon
    wpeak = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w = daily.select(
        "day",
        "rev_cents",
        (F.max("rev_cents").over(wpeak) - F.col("rev_cents")).alias("drawdown_cents"),
    )
    mx = w.agg(F.max("drawdown_cents").alias("mdd"))
    return (
        w.join(F.broadcast(mx), w["drawdown_cents"] == mx["mdd"])
        .groupBy("mdd")
        .agg(
            F.min("day").cast("bigint").alias("drawdown_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days_at_max"),
        )
        .select(
            "drawdown_day",
            F.col("mdd").cast("bigint").alias("max_drawdown_cents"),
            "n_days_at_max",
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (hour-of-week baseline, MAE)
# ---------------------------------------------------------------------------

_SEAS_SPLIT = "2024-01-24 00:00:00"


@register(
    "seasonal_baseline_mae",
    "Seasonal-naive forecast eval: the (ISO weekday × hour) mean event "
    "value learned on the train window (ts < Jan 24) is scored on the "
    "holdout week by MAE — the baseline every real forecaster must "
    "beat, and the sanity gate for value-stream drift. Exact fixed "
    "point: cent-quantized values, per-slot mean as millicents "
    "(sum·1000 DIV n), absolute errors summed as integers, one DIV for "
    "the MAE. Two grouped-agg shuffles (train slots, test errors) and "
    "a broadcast of the ≤168-row baseline table.",
    f"""
    WITH ev AS (
      SELECT isodow(ts) AS dow, CAST(hour(ts) AS INTEGER) AS hr,
             CAST(round(value * 100) AS BIGINT) AS vc,
             ts < TIMESTAMP '{_SEAS_SPLIT}' AS is_train
      FROM events
    ),
    base AS (
      SELECT dow, hr, CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(vc) * 1000 // COUNT(*) AS BIGINT) AS mean_fp
      FROM ev WHERE is_train GROUP BY dow, hr
    ),
    test AS (SELECT dow, hr, vc FROM ev WHERE NOT is_train)
    SELECT CAST(base.dow AS INTEGER) AS dow, base.hr, base.n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test, base.mean_fp,
           CAST(SUM(abs(test.vc * 1000 - base.mean_fp)) // COUNT(*) AS BIGINT)
             AS mae_fp
    FROM test JOIN base ON test.dow = base.dow AND test.hr = base.hr
    GROUP BY base.dow, base.hr, base.n_train, base.mean_fp
    """,
)
def q_seasonal_baseline_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        (F.col("ts") < F.lit(_SEAS_SPLIT).cast("timestamp")).alias("is_train"),
    )
    base = (
        ev.filter("is_train")
        .groupBy("dow", "hr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.expr("CAST(SUM(vc) * 1000 DIV COUNT(*) AS BIGINT)").alias("mean_fp"),
        )
    )
    test = ev.filter(~F.col("is_train")).select("dow", "hr", "vc")
    return (
        test.join(F.broadcast(base), ["dow", "hr"])
        .groupBy("dow", "hr", "n_train", "mean_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.expr(
                "CAST(SUM(abs(vc * 1000 - mean_fp)) DIV COUNT(*) AS BIGINT)"
            ).alias("mae_fp"),
        )
        .select("dow", "hr", "n_train", "n_test", "mean_fp", "mae_fp")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point scan over the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint_daily",
    "CUSUM change-point scan: S_t = Σ_{i≤t}(x_i·n − total) over the "
    "daily revenue series (scaled by n_days so every term is an exact "
    "integer — no mean division inside the sum), argmax |S_t| marks "
    "the most likely level-shift day; top-5 reported with day "
    "tie-break. The cumulative window runs over the BOUNDED day table "
    "(horizon days, the documented bounded-window contract) — the "
    "fact scan is one grouped-agg shuffle; cents stay exact via the "
    "DECIMAL cast and the scaled sums stay under 2^63 (n_days·total "
    "< 10¹⁷ at sf100).",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(rev) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily
    ),
    cu AS (
      SELECT day, rev,
             CAST(SUM(rev * nd - total) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cusum_scaled
      FROM daily CROSS JOIN tot
    )
    SELECT day, rev, cusum_scaled FROM cu
    ORDER BY abs(cusum_scaled) DESC, day LIMIT 5
    """,
)
def q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    tot = daily.agg(
        F.sum("rev").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    # cumulative window over the bounded day table (horizon days)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cu = dq.scalar_join(daily, tot).withColumn(
        "cusum_scaled",
        F.sum(F.col("rev") * F.col("nd") - F.col("total")).over(w).cast("bigint"),
    )
    return (
        cu.select("day", "rev", "cusum_scaled")
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Nearest as-of join within tolerance (both directions)
# ---------------------------------------------------------------------------

_NEAR_TOL_US = 600_000_000  # ±10 minutes


@register(
    "asof_nearest_click_to_purchase",
    "Nearest as-of join: for each purchase, the user's closest click "
    "within ±10 minutes in EITHER direction (the asof 'nearest' "
    "semantics pandas.merge_asof offers and plain SQL lacks; the "
    "backward-only variant is asof_last_click_before_purchase). "
    "Scale plan: no inequality join ever touches the fact tables — "
    "purchases probe 3 tolerance-width time buckets via an equi-join "
    "(the banded range-join trick), so candidates per purchase are "
    "bounded by click density within ±1 bucket; rank by (|gap|, id) "
    "picks the winner. Unmatched purchases keep a −1 sentinel "
    "(NULL-free output, pandas BIGINT widening).",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us,
             epoch_us(ts) // {_NEAR_TOL_US} AS cb
      FROM events WHERE event_type = 'click'
    ),
    probe AS (
      SELECT purchase_id, user_id, p_us,
             p_us // {_NEAR_TOL_US} + unnest([-1, 0, 1]) AS b
      FROM p
    ),
    cand AS (
      SELECT probe.purchase_id, probe.user_id, probe.p_us, c.click_id,
             p_us - c_us AS gap_us,
             ROW_NUMBER() OVER (PARTITION BY probe.purchase_id
                                ORDER BY abs(p_us - c_us), c.click_id) AS rn
      FROM probe JOIN c ON c.user_id = probe.user_id AND c.cb = probe.b
      WHERE abs(p_us - c_us) <= {_NEAR_TOL_US}
    ),
    best AS (SELECT purchase_id, click_id, gap_us FROM cand WHERE rn = 1)
    SELECT p.purchase_id, p.user_id,
           COALESCE(best.click_id, -1) AS click_id,
           COALESCE(best.gap_us, 0) AS gap_us
    FROM p LEFT JOIN best ON p.purchase_id = best.purchase_id
    """,
)
def q_asof_nearest_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
        F.expr(f"unix_micros(ts) DIV {_NEAR_TOL_US}").alias("cb"),
    )
    probe = p.select(
        "purchase_id",
        "user_id",
        "p_us",
        F.explode(
            F.array(
                F.expr(f"p_us DIV {_NEAR_TOL_US} - 1"),
                F.expr(f"p_us DIV {_NEAR_TOL_US}"),
                F.expr(f"p_us DIV {_NEAR_TOL_US} + 1"),
            )
        ).alias("b"),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.abs(F.col("p_us") - F.col("c_us")), "click_id"
    )
    best = (
        probe.join(c, (probe.user_id == c.c_user) & (probe.b == c.cb))
        .filter(F.abs(F.col("p_us") - F.col("c_us")) <= _NEAR_TOL_US)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("purchase_id").alias("bp"),
            "click_id",
            (F.col("p_us") - F.col("c_us")).alias("gap_us"),
        )
    )
    return p.join(best, p.purchase_id == best.bp, "left").select(
        "purchase_id",
        "user_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("bigint").alias("click_id"),
        F.coalesce(F.col("gap_us"), F.lit(0)).cast("bigint").alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (banded pair slopes, exact median)
# ---------------------------------------------------------------------------


@register(
    "theil_sen_daily_trend",
    "Theil-Sen robust daily-revenue trend: slope = median over pairwise "
    "slopes (r_j - r_i)/(d_j - d_i). Candidate pairs are BANDED — only "
    "day pairs 1..7 apart, generated by exploding a 7-element offset "
    "sequence into an equi-join on day number (no range join, no "
    "all-pairs: fan-out is exactly 7x the bounded daily table, which "
    "has |calendar| rows at ANY corpus size). Daily revenue sums in "
    "DECIMAL then casts once to DOUBLE (rule 1); each slope is one IEEE "
    "division of bit-identical doubles; the median is the exact "
    "interpolated percentile both engines share (rule 7).",
    """
    WITH daily AS (
      SELECT CAST(epoch_us(date_trunc('day', o_orderdate)) // 86400000000
                  AS BIGINT) AS dn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.dn AS dn_a, b.dn AS dn_b,
             (b.rev - a.rev) / CAST(b.dn - a.dn AS DOUBLE) AS slope
      FROM daily a
      CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
      JOIN daily b ON b.dn = a.dn + k.k
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope, 0.5) AS slope_median
    FROM pairs
    """,
)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.unix_micros(F.date_trunc("day", "o_orderdate")) / F.lit(86400000000))
        .cast("bigint")
        .alias("dn")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev"))
    offs = spark.range(1, 8).select(F.col("id").alias("k"))
    a = daily.alias("a").crossJoin(F.broadcast(offs))
    pairs = a.join(
        daily.alias("b"),
        F.col("b.dn") == F.col("a.dn") + F.col("k"),
    ).select(
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.dn") - F.col("a.dn")).cast("double")).alias(
            "slope"
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("slope_median"),
    ).crossJoin(F.broadcast(n_days)).select("n_days", "n_pairs", "slope_median")


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (CV^2 in fixed point)
# ---------------------------------------------------------------------------


@register(
    "event_interarrival_burstiness",
    "Burstiness of event arrivals per type: squared coefficient of "
    "variation of per-user inter-arrival times, CV^2 = n*sum(d^2)/"
    "(sum d)^2 - 1 in ppm — CV^2 of 1e6 is Poisson, above is bursty, "
    "below is regular. Gaps are exact integer millis (rule 11: "
    "epoch-micros difference, floor-divided); squares accumulate in "
    "DECIMAL(38,0)/HUGEINT (d^2 ~ 1e19 overflows int64); the single "
    "ppm ratio is one decimal DIV. Magnitude ceiling stated: "
    "n*sum(d^2)*1e6 < 1e38 holds to ~1e8 gaps. One window pass + one "
    "bounded per-type agg.",
    """
    WITH gaps AS (
      SELECT event_type,
             CAST((epoch_us(ts) - epoch_us(lag(ts) OVER
                   (PARTITION BY user_id, event_type ORDER BY ts, event_id)))
                  // 1000 AS BIGINT) AS d_ms
      FROM events
    ),
    g AS (SELECT event_type, d_ms FROM gaps WHERE d_ms IS NOT NULL),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d_ms) AS BIGINT) AS sd,
             SUM(CAST(d_ms AS HUGEINT) * CAST(d_ms AS HUGEINT)) AS sd2
      FROM g GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(sd // n AS BIGINT) AS mean_gap_ms,
           CAST(CAST(n AS HUGEINT) * sd2 * 1000000
                // (CAST(sd AS HUGEINT) * sd) AS BIGINT) - 1000000
             AS cv2_minus1_ppm
    FROM agg
    """,
)
def q_event_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(lag(ts) OVER"
            " (PARTITION BY user_id, event_type ORDER BY ts, event_id)))"
            " DIV 1000 AS BIGINT)"
        ).alias("d_ms"),
    ).filter(F.col("d_ms").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d_ms").cast("bigint").alias("sd"),
        F.sum(F.col("d_ms").cast("decimal(38,0)") * F.col("d_ms").cast("decimal(38,0)"))
        .alias("sd2"),
    )
    return agg.selectExpr(
        "event_type",
        "n",
        "CAST(sd DIV n AS BIGINT) AS mean_gap_ms",
        "CAST(CAST(n AS DECIMAL(38,0)) * sd2 * 1000000"
        " DIV (CAST(sd AS DECIMAL(38,0)) * sd) AS BIGINT) - 1000000"
        " AS cv2_minus1_ppm",
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two daily event series
# ---------------------------------------------------------------------------


@register(
    "lagged_cross_correlation",
    "Lead/lag discovery between two daily series: Pearson correlation "
    "of daily view counts vs purchase counts at every lag in [-3, +3] "
    "days, with the maximizing lag flagged — the demand-precedes-"
    "conversion diagnostic. Day ids are integer epoch-day (unix_micros "
    "DIV 86.4e9, rule 11 form), the 7 lags come from a bounded "
    "explode joined on shifted day, and each lag's moments are exact "
    "BIGINT sums (daily counts < 2^24, 30-day windows: every "
    "n*Sxy - Sx*Sy term is < 2^53, so the doubles entering the one "
    "corr expression tree are exact casts). sqrt is IEEE-exact (rule "
    "8); zero-variance lags emit 0. Fan-out: series length x 7 rows "
    "total — independent of event volume after the daily rollup.",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS dnum,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    paired AS (
      SELECT l.lag, a.v AS x, b.p AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.dnum = a.dnum + l.lag
    ),
    mom AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM paired GROUP BY lag
    ),
    corr AS (
      SELECT lag, n_days,
             CASE WHEN n_days * sxx - sx * sx = 0
                    OR n_days * syy - sy * sy = 0 THEN 0.0
                  ELSE CAST(n_days * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                              * CAST(n_days * syy - sy * sy AS DOUBLE))
             END AS corr_xy
      FROM mom
    )
    SELECT lag, n_days, corr_xy,
           ROW_NUMBER() OVER (ORDER BY corr_xy DESC, lag) = 1 AS is_best_lag
    FROM corr
    """,
)
def q_lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr("unix_micros(ts) DIV 86400000000").alias("dnum"), "event_type"
        )
        .groupBy("dnum")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("p"),
        )
    )
    lags = spark.range(7).select((F.col("id") - 3).cast("int").alias("lag"))
    a = daily.select(F.col("dnum").alias("da"), F.col("v").alias("x"))
    b = daily.select(F.col("dnum").alias("db"), F.col("p").alias("y"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    mom = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    corr = mom.select(
        "lag",
        "n_days",
        F.when(
            (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx") == 0)
            | (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy") == 0),
            F.lit(0.0),
        )
        .otherwise(
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            )
        )
        .alias("corr_xy"),
    )
    return corr.select(
        "lag",
        "n_days",
        "corr_xy",
        (
            F.row_number().over(Window.orderBy(F.desc("corr_xy"), F.asc("lag"))) == 1
        ).alias("is_best_lag"),
    )


# ---------------------------------------------------------------------------
# Grouped OLS trend with R²
# ---------------------------------------------------------------------------


@register(
    "revenue_trend_by_nation",
    "Per-nation OLS revenue trend: slope (dollars/day) and R² of "
    "daily revenue cents against the epoch-day index — the "
    "least-squares companion to the Theil-Sen robust trend, grouped. "
    "Daily rollup first (the only fact shuffle), then 25 groups of "
    "exact BIGINT moments; x*y products accumulate in DECIMAL(38,0)/"
    "HUGEINT (day index ~1.1e4, day cents can reach 1e9+ at scale) "
    "and the n*Sxy - Sx*Sy combinations reach DOUBLE via the "
    "quotient+remainder split before the slope/R² expression trees. "
    "Zero-variance groups emit 0.0.",
    f"""
    WITH daily AS (
      SELECT n.n_name AS nation,
             epoch_us(o.o_orderdate) // 86400000000 AS x,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, epoch_us(o.o_orderdate) // 86400000000
    ),
    mom AS (
      SELECT nation, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM daily GROUP BY nation
    ),
    c AS (
      SELECT nation, n,
             n * sxy - sx * sy AS covnum,
             n * sxx - sx * sx AS vxnum,
             n * syy - sy * sy AS vynum
      FROM mom
    ),
    s AS (
      SELECT nation, n,
             {_split_double('covnum').format(**_SPLIT_DUCK)} AS covd,
             {_split_double('vxnum').format(**_SPLIT_DUCK)} AS vxd,
             {_split_double('vynum').format(**_SPLIT_DUCK)} AS vyd
      FROM c
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN vxd = 0.0 THEN 0.0 ELSE covd / vxd / 100.0 END
             AS slope_dollars_per_day,
           CASE WHEN vxd = 0.0 OR vyd = 0.0 THEN 0.0
                ELSE covd * covd / (vxd * vyd) END AS r2
    FROM s
    """,
)
def q_revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    daily = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("x"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"))
    )
    mom = daily.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum((F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))).alias(
            "syy"
        ),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = mom.select(
        "nation",
        "n",
        (dec(F.col("n")) * dec(F.col("sxy")) - dec(F.col("sx")) * dec(F.col("sy"))).alias(
            "covnum"
        ),
        (dec(F.col("n")) * dec(F.col("sxx")) - dec(F.col("sx")) * dec(F.col("sx"))).alias(
            "vxnum"
        ),
        (dec(F.col("n")) * F.col("syy") - dec(F.col("sy")) * dec(F.col("sy"))).alias(
            "vynum"
        ),
    )
    s = c.select(
        "nation",
        "n",
        F.expr(_split_double("covnum").format(**_SPLIT_SPARK)).alias("covd"),
        F.expr(_split_double("vxnum").format(**_SPLIT_SPARK)).alias("vxd"),
        F.expr(_split_double("vynum").format(**_SPLIT_SPARK)).alias("vyd"),
    )
    return s.select(
        "nation",
        F.col("n").cast("bigint").alias("n_days"),
        F.when(F.col("vxd") == 0.0, F.lit(0.0))
        .otherwise(F.col("covd") / F.col("vxd") / 100.0)
        .alias("slope_dollars_per_day"),
        F.when((F.col("vxd") == 0.0) | (F.col("vyd") == 0.0), F.lit(0.0))
        .otherwise(F.col("covd") * F.col("covd") / (F.col("vxd") * F.col("vyd")))
        .alias("r2"),
    )


# ---------------------------------------------------------------------------
# Pettitt rank changepoint on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "pettitt_changepoint_daily",
    "Pettitt distribution-free changepoint on daily revenue: "
    "U_t = sum_{i<=t} sum_{j>t} sgn(x_i - x_j) via the exact midrank "
    "identity U_t = sum_{i<=t} rx2_i - t*(n+1) with rx2 = 2*midrank "
    "= 2*RANK + #ties - 1 (all integers, no libm), K = max|U_t| with "
    "the changepoint at the argmax (earliest-day tie-break, rule "
    "20), and the Pettitt exponent lambda = 6K^2/(n^3+n^2) as ONE "
    "IEEE division of exact integers (p ~ exp(-lambda); the exp is "
    "left to the caller — rule 4 keeps libm out of the oracle). "
    "Windows run over the calendar-bounded day table (~2.4k rows at "
    "ANY SF — horizon-bounded, not data-bounded), same posture as "
    "cusum_changepoint_daily.",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    r AS (
      SELECT day, rev,
             2 * RANK() OVER (ORDER BY rev)
               + COUNT(*) OVER (PARTITION BY rev) - 1 AS rx2,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    u AS (
      SELECT day, t, n,
             SUM(rx2) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - t * (n + 1) AS ut
      FROM r
    ),
    k AS (SELECT * FROM u WHERE t < n ORDER BY abs(ut) DESC, day LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(day AS TIMESTAMP) AS changepoint_day,
           CAST(abs(ut) AS BIGINT) AS k_stat,
           CAST(6 * abs(ut) * abs(ut) AS DOUBLE)
             / CAST(n * n * n + n * n AS DOUBLE) AS lambda_stat
    FROM k
    """,
)
def q_pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("rev")
    )
    # calendar-bounded single-partition windows (docstring bound)
    rx2 = (
        2 * F.rank().over(Window.orderBy("rev"))
        + F.count(F.lit(1)).over(Window.partitionBy("rev"))
        - 1
    )
    r = daily.select(
        "day",
        rx2.alias("rx2"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    tot = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wday = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    u = dq.scalar_join(
        r.withColumn("s2", F.sum("rx2").over(wday)), tot
    ).withColumn("ut", F.col("s2") - F.col("t") * (F.col("n") + 1))
    k = u.filter(F.col("t") < F.col("n")).orderBy(
        F.abs(F.col("ut")).desc(), "day"
    ).limit(1)
    return k.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("day").alias("changepoint_day"),
        F.abs(F.col("ut")).cast("bigint").alias("k_stat"),
        F.expr(
            "CAST(6 * abs(ut) * abs(ut) AS DOUBLE)"
            " / CAST(n * n * n + n * n AS DOUBLE)"
        ).alias("lambda_stat"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands interval coverage per customer
# ---------------------------------------------------------------------------

_IV_WINDOW_DAYS = 30


@register(
    "interval_coverage_islands",
    "Gaps-and-islands interval merge per customer: each order opens "
    "a 30-day service interval [day, day+30); overlapping intervals "
    "merge into islands (new island when start > running max of "
    "prior ends — the classic sweep), and the output is per-customer "
    "island count, union-covered days (no double counting), total "
    "span, and coverage ppm. Day arithmetic is exact integer "
    "epoch-days (epoch_us DIV 86.4e9, rule 11); all windows "
    "partition by custkey (orders-per-customer bounded), so the "
    "plan is one fact shuffle on custkey — the interval-union "
    "primitive behind SLA uptime, subscription coverage, and "
    "entitlement audits.",
    f"""
    WITH iv AS (
      SELECT o_custkey AS custkey,
             epoch_us(o_orderdate) // 86400000000 AS s,
             epoch_us(o_orderdate) // 86400000000 + {_IV_WINDOW_DAYS} AS e
      FROM orders
    ),
    m AS (
      SELECT custkey, s, e,
             MAX(e) OVER (PARTITION BY custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM iv
    ),
    fl AS (
      SELECT custkey, s, e,
             CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS isnew
      FROM m
    ),
    isl AS (
      SELECT custkey, s, e,
             SUM(isnew) OVER (PARTITION BY custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM fl
    ),
    agg AS (
      SELECT custkey, island,
             MIN(s) AS i_start, MAX(e) AS i_end, COUNT(*) AS cnt
      FROM isl GROUP BY custkey, island
    )
    SELECT custkey,
           CAST(SUM(cnt) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS covered_days,
           CAST(MAX(i_end) - MIN(i_start) AS BIGINT) AS span_days,
           CAST(SUM(i_end - i_start) * 1000000
                // (MAX(i_end) - MIN(i_start)) AS BIGINT) AS coverage_ppm
    FROM agg GROUP BY custkey
    """,
)
def q_interval_coverage_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) DIV 86400000000")
    iv = o.select(
        F.col("o_custkey").alias("custkey"),
        day.alias("s"),
        (day + _IV_WINDOW_DAYS).alias("e"),
    )
    wprev = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fl = iv.withColumn("pme", F.max("e").over(wprev)).withColumn(
        "isnew",
        F.when(F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1).otherwise(0),
    )
    isl = fl.withColumn("island", F.sum("isnew").over(wcum))
    agg = isl.groupBy("custkey", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return agg.groupBy("custkey").agg(
        F.sum("cnt").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("covered_days"),
        (F.max("i_end") - F.min("i_start")).cast("bigint").alias("span_days"),
        F.expr(
            "CAST(SUM(i_end - i_start) * 1000000"
            " DIV (MAX(i_end) - MIN(i_start)) AS BIGINT)"
        ).alias("coverage_ppm"),
    )


_DAILY_SQL = """
      SELECT date_trunc('day', o_orderdate) AS day,
             epoch_us(date_trunc('day', o_orderdate)) // 86400000000 AS dayno,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY date_trunc('day', o_orderdate)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.date_trunc("day", "o_orderdate")
    return o.groupBy(day.alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    ).withColumn("dayno", F.expr("unix_micros(day) DIV 86400000000"))


# ---------------------------------------------------------------------------
# Kendall tau-b between daily revenue and daily order count
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_daily",
    "Kendall tau-b rank association between daily revenue and daily "
    "order count: concordant/discordant/tied pair counts from the "
    "day-pair join (d1 < d2), tau-b = (C-D)/(sqrt(n0-Tx)*sqrt(n0-Ty)) "
    "— exact BIGINT counts into one shared IEEE tree (rules 1-2, 8). "
    "The pair join is over the CALENDAR-bounded daily aggregate "
    "(~2.4k rows at any SF, ~2.9M pairs — horizon^2, SF-invariant), "
    "so the quadratic lives on a fixed-size series, never on the "
    "fact table; the fact table contributes one shuffle into the "
    "daily rollup.",
    f"""
    WITH daily AS ({_DAILY_SQL}
    ),
    pr AS (
      SELECT CASE WHEN (a.rev - b.rev) * (a.n_orders - b.n_orders) > 0
                  THEN 1 ELSE 0 END AS con,
             CASE WHEN (a.rev - b.rev) * (a.n_orders - b.n_orders) < 0
                  THEN 1 ELSE 0 END AS dis,
             CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(con) AS BIGINT) AS c,
             CAST(SUM(dis) AS BIGINT) AS d,
             CAST(SUM(tx) AS BIGINT) AS tx,
             CAST(SUM(ty) AS BIGINT) AS ty
      FROM pr
    )
    SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
           tx AS tied_revenue, ty AS tied_orders,
           CAST(c - d AS DOUBLE)
             / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE)))
             AS tau_b
    FROM s
    """,
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    a = daily.select(
        F.col("day").alias("da"), F.col("rev").alias("ra"), F.col("n_orders").alias("na")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("rev").alias("rb"), F.col("n_orders").alias("nb")
    )
    pr = a.join(b, F.col("db") > F.col("da")).select(
        F.when((F.col("ra") - F.col("rb")) * (F.col("na") - F.col("nb")) > 0, 1)
        .otherwise(0)
        .alias("con"),
        F.when((F.col("ra") - F.col("rb")) * (F.col("na") - F.col("nb")) < 0, 1)
        .otherwise(0)
        .alias("dis"),
        F.when(F.col("ra") == F.col("rb"), 1).otherwise(0).alias("tx"),
        F.when(F.col("na") == F.col("nb"), 1).otherwise(0).alias("ty"),
    )
    s = pr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("con").cast("bigint").alias("c"),
        F.sum("dis").cast("bigint").alias("d"),
        F.sum("tx").cast("bigint").alias("tx"),
        F.sum("ty").cast("bigint").alias("ty"),
    )
    return s.select(
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("tied_revenue"),
        F.col("ty").alias("tied_orders"),
        F.expr(
            "CAST(c - d AS DOUBLE)"
            " / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE)))"
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "runs_test_daily",
    "Wald-Wolfowitz runs test for serial randomness of daily revenue "
    "around its median: days strictly above/below the DISCRETE "
    "median (quantile_disc — rule 7; equal-to-median days drop, the "
    "standard convention), R = number of sign runs in day order, "
    "z = (R - (1 + 2*n1*n2/n)) / sqrt(2*n1*n2*(2*n1*n2 - n) / "
    "(n^2*(n-1))) — exact BIGINT counts into one shared IEEE tree. "
    "Complements Pettitt/CUSUM (level shifts) by testing serial "
    "DEPENDENCE. Runs counted by a lag comparison over the "
    "calendar-bounded day table (~2.4k rows at any SF).",
    f"""
    WITH daily AS ({_DAILY_SQL}
    ),
    med AS (SELECT quantile_disc(rev, 0.5) AS m FROM daily),
    sgn AS (
      SELECT day, CASE WHEN rev > m THEN 1 ELSE 0 END AS above
      FROM daily, med WHERE rev <> m
    ),
    runs AS (
      SELECT above,
             CASE WHEN LAG(above) OVER (ORDER BY day) IS NULL
                  OR LAG(above) OVER (ORDER BY day) <> above
                  THEN 1 ELSE 0 END AS brk
      FROM sgn
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(above) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(above) AS BIGINT) AS n2,
             CAST(SUM(brk) AS BIGINT) AS r
      FROM runs
    )
    SELECT n AS n_days_used, n1 AS n_above, n2 AS n_below, r AS n_runs,
           (CAST(r AS DOUBLE)
             - (1.0 + CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)))
             / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n) AS DOUBLE)
                    / CAST(n * n * (n - 1) AS DOUBLE)) AS z_stat
    FROM s
    """,
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    med = daily.agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev)").alias("m"))
    sgn = (
        dq.scalar_join(daily, med)
        .filter(F.col("rev") != F.col("m"))
        .select("day", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("above"))
    )
    # calendar-bounded single-partition lag (docstring bound)
    lag = F.lag("above").over(Window.orderBy("day"))
    runs = sgn.select(
        "above",
        F.when(lag.isNull() | (lag != F.col("above")), 1).otherwise(0).alias("brk"),
    )
    s = runs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("above").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("above")).cast("bigint").alias("n2"),
        F.sum("brk").cast("bigint").alias("r"),
    )
    return s.select(
        F.col("n").alias("n_days_used"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.expr(
            "(CAST(r AS DOUBLE)"
            " - (1.0 + CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)))"
            " / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n) AS DOUBLE)"
            " / CAST(n * n * (n - 1) AS DOUBLE))"
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of daily revenue (lags 1..10)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 10


@register(
    "acf_daily_revenue",
    "Autocorrelation function of the daily revenue series at lags "
    "1..10: per lag, Pearson correlation of (x_t, x_{t+lag}) over "
    "the lag-joined day pairs — the seasonality/memory diagnostic "
    "behind every forecasting model choice. The lag join is an "
    "equi-join on integer epoch-day + lag against the 10-row "
    "broadcast lag table (fan-out 10x over the calendar-bounded "
    "daily aggregate); moment sums are exact integers (daily cents^2 "
    "passes 2^63 even at sf0.01, so they reach DOUBLE via the "
    "quotient+remainder split — plain decimal/hugeint->double casts "
    "diverge by 1 ulp above 2^63), and each lag's rho is the shared "
    "IEEE tree (rules 2, 8). Fully incremental pattern: the same "
    "moments are map-side combinable at 100x.",
    f"""
    WITH daily AS ({_DAILY_SQL}
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pr AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM daily a
      JOIN lags l ON TRUE
      JOIN daily b ON b.dayno = a.dayno + l.lag
    ),
    s AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(x) AS sx_i, SUM(y) AS sy_i, SUM(x * y) AS sxy_i,
             SUM(x * x) AS sxx_i, SUM(y * y) AS syy_i
      FROM pr GROUP BY lag
    ),
    d AS (
      SELECT lag, n_pairs,
             {_split_double('sx_i').format(**_SPLIT_DUCK)} AS sx,
             {_split_double('sy_i').format(**_SPLIT_DUCK)} AS sy,
             {_split_double('sxy_i').format(**_SPLIT_DUCK)} AS sxy,
             {_split_double('sxx_i').format(**_SPLIT_DUCK)} AS sxx,
             {_split_double('syy_i').format(**_SPLIT_DUCK)} AS syy
      FROM s
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS acf
    FROM d
    """,
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    lags = daily.sparkSession.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = daily.select(F.col("dayno").alias("da"), F.col("rev").alias("x"))
    b = daily.select(F.col("dayno").alias("db"), F.col("rev").alias("y"))
    pr = (
        a.join(F.broadcast(lags), F.lit(True))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = pr.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx_i"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy_i"),
        # cast BEFORE multiplying: daily-cents x*y passes 2^63 by sf1,
        # so a BIGINT product overflows ahead of the DECIMAL cast
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy_i"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx_i"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy_i"),
    ).select(
        "lag",
        "n_pairs",
        *[
            F.expr(_split_double(f"{c}_i").format(**_SPLIT_SPARK)).alias(c)
            for c in ("sx", "sy", "sxy", "sxx", "syy")
        ],
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        F.expr(
            "(CAST(n_pairs AS DOUBLE) * sxy - sx * sy)"
            " / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)"
            " * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy))"
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Hodges-Lehmann pseudo-median of daily revenue
# ---------------------------------------------------------------------------


@register(
    "hodges_lehmann_daily",
    "Hodges-Lehmann pseudo-median of daily revenue: the median of "
    "all Walsh averages (x_i + x_j)/2 over day pairs i <= j — the "
    "rank-based location estimator (the one-sample Wilcoxon "
    "inverse) that is 2x more outlier-robust than the mean without "
    "the median's discreteness. Pair sums stay exact BIGINT cents "
    "(halving deferred to the final division so no .5 ever "
    "materializes); the pair table is CALENDAR-bounded (~2.9M rows "
    "from ~2.4k days at any SF); median via discrete percentile "
    "(rule 7). Output includes the plain median for comparison.",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    walsh AS (
      SELECT a.rev + b.rev AS w2
      FROM daily a JOIN daily b ON b.day >= a.day
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_walsh_pairs,
           CAST(quantile_disc(w2, 0.5) AS DOUBLE) / 200.0
             AS hodges_lehmann_dollars,
           (SELECT CAST(quantile_disc(rev, 0.5) AS DOUBLE) / 100.0
            FROM daily) AS plain_median_dollars
    FROM walsh
    """,
)
def q_hodges_lehmann_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev")
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    walsh = a.join(b, F.col("db") >= F.col("da")).select(
        (F.col("ra") + F.col("rb")).alias("w2")
    )
    nd = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev)").cast(
                "double"
            )
            / 100.0
        ).alias("plain_median_dollars"),
    )
    wz = walsh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_walsh_pairs"),
        (
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY w2)").cast(
                "double"
            )
            / 200.0
        ).alias("hodges_lehmann_dollars"),
    )
    return dq.scalar_join(wz, nd).select(
        "n_days", "n_walsh_pairs", "hodges_lehmann_dollars", "plain_median_dollars"
    )


# ---------------------------------------------------------------------------
# Mann-Kendall monotone trend test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "mann_kendall_trend_daily",
    "Mann-Kendall monotone trend test on daily revenue: S = sum of "
    "sgn(x_j - x_i) over ordered day pairs, tie-corrected variance "
    "18*Var(S) = n(n-1)(2n+5) - sum t(t-1)(2t+5) over tied-value "
    "groups, and the continuity-corrected z = (S -/+ 1)/sqrt(var) — "
    "the standard distribution-free trend detector (environmental "
    "and ops telemetry canon), complementing Kendall tau (x vs y) "
    "by testing x vs TIME. Exact BIGINT pair counts and tie sums "
    "over the calendar-bounded day-pair join (~2.9M pairs at any "
    "SF); one shared IEEE tree for z (rules 2, 8).",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
               AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY rev)
      WHERE t > 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM daily)
    SELECT n.nd AS n_days, s.s_stat,
           CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5) - ties.tie_term
             AS BIGINT) AS var_num_18,
           (CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                 WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                 ELSE 0.0 END)
             / NULLIF(sqrt(CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5)
                    - ties.tie_term AS DOUBLE) / 18.0), 0) AS z_stat
    FROM s, ties, n
    """,
)
def q_mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev")
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    s = a.join(b, F.col("db") > F.col("da")).agg(
        F.sum(
            F.when(F.col("rb") > F.col("ra"), 1)
            .when(F.col("rb") < F.col("ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    return dq.scalar_join(s, ties, n).select(
        F.col("nd").alias("n_days"),
        "s_stat",
        F.expr(
            "CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term AS BIGINT)"
        ).alias("var_num_18"),
        F.expr(
            "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
            " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
            " ELSE 0.0 END)"
            # NULLIF guard (rule 40): a 1-day series zeroes Var(S)
            " / NULLIF(sqrt(CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term"
            " AS DOUBLE) / 18.0), 0)"
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Holt linear exponential smoothing (recursive CTE, shared SQL)
# ---------------------------------------------------------------------------

# Portable truncating integer division by a positive literal: x % d is
# dividend-signed on BOTH engines (rule 25), (x - x % d) is exactly
# divisible, the / is exact in double (|x| << 2^53), and the final cast
# truncates an already-integral double identically (DuckDB's round-on-
# cast and Spark's truncate agree on exact integers).
def _intdiv(x: str, d: int) -> str:
    return f"CAST((({x}) - ({x}) % {d}) / {d} AS BIGINT)"


_HOLT_SQL = f"""
    WITH RECURSIVE monthly AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) * 100
               + CAST(month(o_orderdate) AS INTEGER) AS ym,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders
      GROUP BY CAST(year(o_orderdate) AS INTEGER) * 100
               + CAST(month(o_orderdate) AS INTEGER)
    ),
    series AS (
      SELECT ym, x, ROW_NUMBER() OVER (ORDER BY ym) AS idx FROM monthly
    ),
    holt(t, level, trend, err_sum, n_err) AS (
      SELECT CAST(1 AS BIGINT), x, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT)
      FROM series WHERE idx = 1
      UNION ALL
      SELECT h.t + 1,
             {_intdiv('3 * s.x + 7 * (h.level + h.trend)', 10)},
             {_intdiv(
                 '(' + _intdiv('3 * s.x + 7 * (h.level + h.trend)', 10)
                 + ' - h.level) + 9 * h.trend', 10)},
             h.err_sum + abs(s.x - (h.level + h.trend)),
             h.n_err + 1
      FROM holt h JOIN series s ON s.idx = h.t + 1
    )
    SELECT CAST(t AS BIGINT) AS n_months,
           CAST(level AS DOUBLE) / 100.0 AS final_level_dollars,
           CAST(trend AS DOUBLE) / 100.0 AS final_trend_dollars,
           CAST(err_sum AS DOUBLE)
             / (100.0 * CAST(NULLIF(n_err, 0) AS DOUBLE))
             AS one_step_mae_dollars
    FROM holt WHERE t = (SELECT MAX(idx) FROM series)
"""


# Python truncating intdiv matching SQL's (x - x % d) / d with
# dividend-signed % (Python's % is divisor-signed, so spell truncation
# toward zero explicitly; d is a positive literal).
def _py_tdiv(x: int, d: int) -> int:
    return -((-x) // d) if x < 0 else x // d


@register(
    "holt_linear_smoothing_mae",
    "Holt's linear (double) exponential smoothing over the monthly "
    "revenue series: state (level, trend) advances one month per step "
    "with alpha=0.3, beta=0.1 in exact integer fixed point — the "
    "truncating division is spelled portably as (x - x%10)/10 so no "
    "dialect split exists — while the one-step-ahead absolute "
    "forecast errors accumulate alongside. Output: final level/trend "
    "and the one-step MAE (the exponential-smoothing baseline a "
    "forecaster must beat; complements the persistence baseline "
    "naive_ltv_forecast_mae). The oracle runs the recursion as ONE "
    "WITH RECURSIVE string; the Spark side does the heavy lifting "
    "(the monthly rollup — the only fact-scale pass) distributed, "
    "then collects the ~80-row monthly series (calendar-bounded at "
    "ANY SF, same bounded-driver-metadata convention as ranking.py's "
    "bucket offsets) and folds the inherently-sequential recursion in "
    "exact Python bigints: identical fixed-point arithmetic, one IEEE "
    "division at the end, without paying ~80 sequential Spark jobs of "
    "fixed scheduler cost for a 1-row-frontier recursion.",
    _HOLT_SQL,
)
def q_holt_linear_smoothing_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    load_tables(spark, sf_dir, names=("orders",))
    # Same rollup expressions as the oracle's `monthly` CTE, run on
    # Spark so round/cast semantics are engine-identical.
    monthly = spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INTEGER) * 100
                 + CAST(month(o_orderdate) AS INTEGER) AS ym,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders
        GROUP BY CAST(year(o_orderdate) AS INTEGER) * 100
                 + CAST(month(o_orderdate) AS INTEGER)
        """
    )
    series = sorted(
        ((r["ym"], r["x"]) for r in monthly.collect()), key=lambda p: p[0]
    )
    schema = T.StructType(
        [
            T.StructField("n_months", T.LongType()),
            T.StructField("final_level_dollars", T.DoubleType()),
            T.StructField("final_trend_dollars", T.DoubleType()),
            T.StructField("one_step_mae_dollars", T.DoubleType()),
        ]
    )
    if not series:
        return spark.createDataFrame([], schema)
    # Exact-integer Holt fold: mirrors the recursive CTE step for step.
    level, trend, err_sum, n_err = series[0][1], 0, 0, 0
    for _, x in series[1:]:
        err_sum += abs(x - (level + trend))
        n_err += 1
        new_level = _py_tdiv(3 * x + 7 * (level + trend), 10)
        trend = _py_tdiv((new_level - level) + 9 * trend, 10)
        level = new_level
    # Single-month series (n_err == 0): NULL on BOTH sides — the oracle
    # divides by NULLIF(n_err, 0), so neither engine evaluates 0.0/0.0
    # (whose NaN-vs-NULL result is a DuckDB config knob). Unreachable at
    # any shipped SF (orders spans ~80 months) but kept exact anyway.
    mae = float(err_sum) / (100.0 * float(n_err)) if n_err else None
    row = (len(series), float(level) / 100.0, float(trend) / 100.0, mae)
    return spark.createDataFrame([row], schema)


# ---------------------------------------------------------------------------
# Lag-feature matrix for supervised training on the weekly user series
# ---------------------------------------------------------------------------


@register(
    "timeseries_lag_feature_matrix",
    "Supervised feature matrix from the weekly user value series — "
    "the canonical build-training-rows op: per (user, epoch-week), "
    "current value plus lag-1/lag-2 features, trailing-3-week sum "
    "and observation count, and the NEXT week's value as the label "
    "— every column exact BIGINT cents with -1 sentinels for "
    "structural absence at series edges (integer twin of rule 16: "
    "nullable ints reach pandas as floats and diverge). All windows "
    "partition by user (per-user history bounded); one shuffle on "
    "user_id. Rows = observed (user, week) pairs, each emitted "
    "exactly once — leakage-free by construction (features strictly "
    "precede the label).",
    """
    WITH uw AS (
      SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS wk,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id, (epoch_us(ts) // 86400000000) // 7
    )
    SELECT user_id, wk, v,
           CAST(COALESCE(LAG(v) OVER w, -1) AS BIGINT) AS lag1,
           CAST(COALESCE(LAG(v, 2) OVER w, -1) AS BIGINT) AS lag2,
           CAST(COALESCE(SUM(v) OVER (PARTITION BY user_id ORDER BY wk
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), -1) AS BIGINT)
             AS trail3_sum,
           CAST(COUNT(v) OVER (PARTITION BY user_id ORDER BY wk
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail3_n,
           CAST(COALESCE(LEAD(v) OVER w, -1) AS BIGINT) AS label_next_week
    FROM uw
    WINDOW w AS (PARTITION BY user_id ORDER BY wk)
    """,
)
def q_timeseries_lag_feature_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.groupBy(
        "user_id",
        F.expr("(unix_micros(ts) DIV 86400000000) DIV 7").alias("wk"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v"))
    w = Window.partitionBy("user_id").orderBy("wk")
    wt = w.rowsBetween(-3, -1)
    return uw.select(
        "user_id",
        "wk",
        "v",
        F.coalesce(F.lag("v").over(w), F.lit(-1)).alias("lag1"),
        F.coalesce(F.lag("v", 2).over(w), F.lit(-1)).alias("lag2"),
        F.coalesce(F.sum("v").over(wt), F.lit(-1)).alias("trail3_sum"),
        F.count("v").over(wt).cast("bigint").alias("trail3_n"),
        F.coalesce(F.lead("v").over(w), F.lit(-1)).alias("label_next_week"),
    )


# ---------------------------------------------------------------------------
# Bollinger-band breakouts on the daily revenue series
# ---------------------------------------------------------------------------

_BB_WIN = 20

_BB_MEAN = f"(s20d / {_BB_WIN}.0)"
_BB_SD = (
    f"sqrt((ss20d - s20d * s20d / {_BB_WIN}.0) / ({_BB_WIN}.0 - 1.0))"
)


@register(
    "bollinger_breakout_daily",
    "Bollinger-band breakout days on the daily order-revenue series "
    "(whole dollars): trailing-20-day mean and sample sd from EXACT "
    "integer window sums (the sum of squares rides DECIMAL(38,0) and "
    "split-converts once per row — dollars keep it inside split "
    "validity through sf100, rule 35), bands at mean +/- 2 sd, and "
    "the breakout verdicts are comparisons of identically-spelled "
    "IEEE trees so both engines agree bit-for-bit. The global-order "
    "window runs over the BOUNDED daily series (<= date-range days "
    "regardless of SF — same posture as acf_daily_revenue), never "
    "over raw orders.",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000
    ),
    w AS (
      SELECT day, y,
             CAST(SUM(y) OVER tw AS BIGINT) AS s20,
             SUM(y * y) OVER tw AS ss20,
             CAST(COUNT(y) OVER tw AS BIGINT) AS c20
      FROM d
      WINDOW tw AS (ORDER BY day ROWS BETWEEN {_BB_WIN} PRECEDING
                    AND 1 PRECEDING)
    ),
    e AS (
      SELECT day, y, CAST(y AS DOUBLE) AS yd,
             CAST(s20 AS DOUBLE) AS s20d, {_du('ss20')} AS ss20d
      FROM w WHERE c20 = {_BB_WIN}
    )
    SELECT day, y AS revenue,
           {_BB_MEAN} AS band_mid,
           {_BB_MEAN} + 2.0 * {_BB_SD} AS band_upper,
           {_BB_MEAN} - 2.0 * {_BB_SD} AS band_lower,
           yd > {_BB_MEAN} + 2.0 * {_BB_SD} AS breakout_up,
           yd < {_BB_MEAN} - 2.0 * {_BB_SD} AS breakout_down
    FROM e
    """,
)
def q_bollinger_breakout_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    tw = Window.orderBy("day").rowsBetween(-_BB_WIN, -1)
    w = d.select(
        "day",
        "y",
        F.sum("y").over(tw).cast("bigint").alias("s20"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .over(tw)
        .alias("ss20"),
        F.count("y").over(tw).cast("bigint").alias("c20"),
    )
    e = w.filter(F.col("c20") == _BB_WIN).select(
        "day",
        "y",
        F.col("y").cast("double").alias("yd"),
        F.col("s20").cast("double").alias("s20d"),
        F.expr(_sp("ss20")).alias("ss20d"),
    )
    return e.select(
        "day",
        F.col("y").alias("revenue"),
        F.expr(_BB_MEAN).alias("band_mid"),
        F.expr(f"{_BB_MEAN} + 2.0 * {_BB_SD}").alias("band_upper"),
        F.expr(f"{_BB_MEAN} - 2.0 * {_BB_SD}").alias("band_lower"),
        F.expr(f"yd > {_BB_MEAN} + 2.0 * {_BB_SD}").alias("breakout_up"),
        F.expr(f"yd < {_BB_MEAN} - 2.0 * {_BB_SD}").alias("breakout_down"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break test on the daily revenue trend
# ---------------------------------------------------------------------------

# per-segment SSE from scaled exact moments:
#   SSE = (Syy_n - Sxy_n^2 / Sxx_n) / n   with  S**_n = n*S** - S*S
def _sse(seg: str) -> str:
    # NULLIF guards (CROSS_ENGINE rule 40): an empty/1-day segment zeroes
    # nn and sxx; shared between the Spark expr and the DuckDB oracle
    return (
        f"((syy{seg} - sxy{seg} * sxy{seg} / NULLIF(sxx{seg}, 0))"
        f" / NULLIF(nn{seg}, 0))"
    )


@register(
    "chow_test_break",
    "Chow structural-break test on the daily-revenue OLS trend at the "
    "date-range midpoint: per-half and pooled regressions share the "
    "same five conditional integer sums (ONE pass over the bounded "
    "daily series; y is daily revenue in whole KILO-dollars — the "
    "truncating DIV 1000 is defined into the series and keeps "
    "n*sum(y^2) inside rule-35 split validity through sf100), scaled "
    "moments S.._n = n*S.. - S*S stay exact in DECIMAL(38,0), and "
    "F = ((SSE_p - SSE_1 - SSE_2)/2) / ((SSE_1+SSE_2)/(n-4)) is one "
    "shared IEEE tree. Verdict vs the literal F(2, inf) critical "
    "value 3.00. Extends ols_* trends (wave13) with the "
    "did-the-slope-change question; split day = integral midpoint, "
    "no quantile needed.",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS x,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               // 1000 AS y
      FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000
    ),
    sp AS (SELECT (MIN(x) + MAX(x)) // 2 AS mid FROM d),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN x <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN x <= mid THEN x ELSE 0 END) AS BIGINT) AS sx1,
        CAST(SUM(CASE WHEN x <= mid THEN y ELSE 0 END) AS BIGINT) AS sy1,
        CAST(SUM(CASE WHEN x <= mid THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
        CAST(SUM(CASE WHEN x <= mid THEN x * y ELSE 0 END) AS BIGINT) AS sxy1,
        SUM(CASE WHEN x <= mid THEN y * y ELSE 0 END) AS syy1,
        CAST(SUM(CASE WHEN x > mid THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN x > mid THEN x ELSE 0 END) AS BIGINT) AS sx2,
        CAST(SUM(CASE WHEN x > mid THEN y ELSE 0 END) AS BIGINT) AS sy2,
        CAST(SUM(CASE WHEN x > mid THEN x * x ELSE 0 END) AS BIGINT) AS sxx2,
        CAST(SUM(CASE WHEN x > mid THEN x * y ELSE 0 END) AS BIGINT) AS sxy2,
        SUM(CASE WHEN x > mid THEN y * y ELSE 0 END) AS syy2
      FROM d CROSS JOIN sp
    ),
    e AS (
      SELECT n1, n2,
             CAST(n1 AS DOUBLE) AS nn1, CAST(n2 AS DOUBLE) AS nn2,
             CAST(n1 + n2 AS DOUBLE) AS nnp,
             {_du('(CAST(n1 AS HUGEINT) * sxx1 - CAST(sx1 AS HUGEINT) * sx1)')} AS sxx1,
             {_du('(CAST(n1 AS HUGEINT) * sxy1 - CAST(sx1 AS HUGEINT) * sy1)')} AS sxy1,
             {_du('(CAST(n1 AS HUGEINT) * syy1 - CAST(sy1 AS HUGEINT) * sy1)')} AS syy1,
             {_du('(CAST(n2 AS HUGEINT) * sxx2 - CAST(sx2 AS HUGEINT) * sx2)')} AS sxx2,
             {_du('(CAST(n2 AS HUGEINT) * sxy2 - CAST(sx2 AS HUGEINT) * sy2)')} AS sxy2,
             {_du('(CAST(n2 AS HUGEINT) * syy2 - CAST(sy2 AS HUGEINT) * sy2)')} AS syy2,
             {_du('(CAST(n1 + n2 AS HUGEINT) * (sxx1 + sxx2) - CAST(sx1 + sx2 AS HUGEINT) * (sx1 + sx2))')} AS sxxp,
             {_du('(CAST(n1 + n2 AS HUGEINT) * (sxy1 + sxy2) - CAST(sx1 + sx2 AS HUGEINT) * (sy1 + sy2))')} AS sxyp,
             {_du('(CAST(n1 + n2 AS HUGEINT) * (syy1 + syy2) - CAST(sy1 + sy2 AS HUGEINT) * (sy1 + sy2))')} AS syyp
      FROM m
    )
    SELECT n1 AS n_days_pre, n2 AS n_days_post,
           {_sse('p')} AS sse_pooled,
           {_sse('1')} + {_sse('2')} AS sse_split,
           (({_sse('p')} - ({_sse('1')} + {_sse('2')})) / 2.0)
             / NULLIF(({_sse('1')} + {_sse('2')})
                      / NULLIF(nnp - 4.0, 0), 0) AS chow_f,
           (({_sse('p')} - ({_sse('1')} + {_sse('2')})) / 2.0)
             / NULLIF(({_sse('1')} + {_sse('2')})
                      / NULLIF(nnp - 4.0, 0), 0) > 3.00
             AS break_95
    FROM e
    """,
)
def q_chow_test_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("x")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)"
            " DIV 1000"
        ).alias("y")
    )
    sp = d.agg(F.expr("(MIN(x) + MAX(x)) DIV 2").alias("mid"))
    pre = F.col("x") <= F.col("mid")
    post = F.col("x") > F.col("mid")
    yy = (F.col("y") * F.col("y")).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")

    def seg(cond, tag):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"n{tag}"),
            F.sum(F.when(cond, F.col("x")).otherwise(0)).cast("bigint").alias(f"sx{tag}"),
            F.sum(F.when(cond, F.col("y")).otherwise(0)).cast("bigint").alias(f"sy{tag}"),
            F.sum(F.when(cond, F.col("x") * F.col("x")).otherwise(0)).cast("bigint").alias(f"sxx{tag}"),
            F.sum(F.when(cond, F.col("x") * F.col("y")).otherwise(0)).cast("bigint").alias(f"sxy{tag}"),
            F.sum(F.when(cond, yy).otherwise(zero)).alias(f"syy{tag}"),
        ]

    m = d.crossJoin(F.broadcast(sp)).agg(*seg(pre, "1"), *seg(post, "2"))

    def nmom(n, a, b, c):
        # n*S.. - S*S in DECIMAL, split-converted
        return F.expr(
            _sp(
                f"(CAST({n} AS DECIMAL(38,0)) * {a}"
                f" - CAST({b} AS DECIMAL(38,0)) * {c})"
            )
        )

    e = m.select(
        "n1",
        "n2",
        F.col("n1").cast("double").alias("nn1"),
        F.col("n2").cast("double").alias("nn2"),
        (F.col("n1") + F.col("n2")).cast("double").alias("nnp"),
        nmom("n1", "sxx1", "sx1", "sx1").alias("sxx1"),
        nmom("n1", "sxy1", "sx1", "sy1").alias("sxy1"),
        nmom("n1", "syy1", "sy1", "sy1").alias("syy1"),
        nmom("n2", "sxx2", "sx2", "sx2").alias("sxx2"),
        nmom("n2", "sxy2", "sx2", "sy2").alias("sxy2"),
        nmom("n2", "syy2", "sy2", "sy2").alias("syy2"),
        nmom("n1 + n2", "(sxx1 + sxx2)", "sx1 + sx2", "(sx1 + sx2)").alias("sxxp"),
        nmom("n1 + n2", "(sxy1 + sxy2)", "sx1 + sx2", "(sy1 + sy2)").alias("sxyp"),
        nmom("n1 + n2", "(syy1 + syy2)", "sy1 + sy2", "(sy1 + sy2)").alias("syyp"),
    )
    f_expr = (
        f"(({_sse('p')} - ({_sse('1')} + {_sse('2')})) / 2.0)"
        f" / NULLIF(({_sse('1')} + {_sse('2')}) / NULLIF(nnp - 4.0, 0), 0)"
    )
    return e.select(
        F.col("n1").alias("n_days_pre"),
        F.col("n2").alias("n_days_post"),
        F.expr(_sse("p")).alias("sse_pooled"),
        F.expr(f"{_sse('1')} + {_sse('2')}").alias("sse_split"),
        F.expr(f_expr).alias("chow_f"),
        F.expr(f"{f_expr} > 3.00").alias("break_95"),
    )


# ---------------------------------------------------------------------------
# Robust weekday seasonal decomposition of the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "weekday_seasonal_decomposition",
    "Robust weekday decomposition of daily revenue (whole dollars): "
    "per-weekday DISCRETE median level, per-weekday MAD of the "
    "residuals, and the variance-explained ppm of the weekday model "
    "vs the global median — STL-lite with medians instead of loess, "
    "immune to the revenue spikes a mean-based seasonal profile "
    "absorbs. The daily series is calendar-BOUNDED, so per-weekday "
    "row_number medians are bounded windows, never fact-scale sorts; "
    "weekday index (epoch_day + 4) %% 7 is pure integer arithmetic "
    "(Thursday epoch). Squared-residual sums ride HUGEINT/DECIMAL "
    "with rule-35 splits; explained_ppm is truncating fixed point. "
    "One fact-scale shuffle (the daily rollup).",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             ((epoch_us(o_orderdate) // {_DAY}) + 4) % 7 AS dow,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
      FROM orders
      GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    rw AS (
      SELECT day, dow, y,
             ROW_NUMBER() OVER (PARTITION BY dow ORDER BY y, day) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n_w
      FROM d
    ),
    med AS (
      SELECT dow, n_w AS n_days, MAX(y) AS wmed
      FROM rw WHERE rn = (n_w + 1) // 2 GROUP BY dow, n_w
    ),
    res AS (
      SELECT d.day, d.dow, d.y, m.n_days, m.wmed,
             abs(d.y - m.wmed) AS ar
      FROM d JOIN med m ON m.dow = d.dow
    ),
    rmad AS (
      SELECT dow, MAX(ar) AS wmad FROM (
        SELECT dow, ar,
               ROW_NUMBER() OVER (PARTITION BY dow ORDER BY ar, day) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n_w
        FROM res
      ) WHERE rn = (n_w + 1) // 2 GROUP BY dow
    ),
    gmed AS (
      SELECT MAX(y) AS gm FROM (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, day) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM d
      ) WHERE rn = (n + 1) // 2
    ),
    ss AS (
      SELECT SUM(CAST(r.y - g.gm AS HUGEINT) * (r.y - g.gm)) AS sst,
             SUM(CAST(r.y - r.wmed AS HUGEINT) * (r.y - r.wmed)) AS ssr
      FROM res r CROSS JOIN gmed g
    )
    SELECT r.dow, r.n_days, r.wmed AS weekday_median,
           m.wmad AS residual_mad,
           CAST((s.sst - s.ssr) * 1000000 // NULLIF(s.sst, 0) AS BIGINT)
             AS explained_ppm
    FROM (SELECT DISTINCT dow, n_days, wmed FROM res) r
    JOIN rmad m ON m.dow = r.dow
    CROSS JOIN ss s
    """,
)
def q_weekday_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day"),
        F.expr(f"((unix_micros(o_orderdate) DIV {_DAY}) + 4) % 7").alias(
            "dow"
        ),
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    wd = Window.partitionBy("dow")
    rw = d.select(
        "day",
        "dow",
        "y",
        F.row_number().over(wd.orderBy("y", "day")).alias("rn"),
        F.count(F.lit(1)).over(wd).cast("bigint").alias("n_w"),
    )
    med = (
        rw.filter(F.expr("rn = (n_w + 1) DIV 2"))
        .groupBy("dow", F.col("n_w").alias("n_days"))
        .agg(F.max("y").alias("wmed"))
    )
    res = d.join(F.broadcast(med), "dow").select(
        "day",
        "dow",
        "y",
        "n_days",
        "wmed",
        F.abs(F.col("y") - F.col("wmed")).alias("ar"),
    )
    rmad = (
        res.select(
            "dow",
            "ar",
            F.row_number().over(wd.orderBy("ar", "day")).alias("rn"),
            F.count(F.lit(1)).over(wd).cast("bigint").alias("n_w"),
        )
        .filter(F.expr("rn = (n_w + 1) DIV 2"))
        .groupBy("dow")
        .agg(F.max("ar").alias("wmad"))
    )
    gmed = (
        d.select(
            "y",
            F.row_number().over(Window.orderBy("y", "day")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
        )
        .filter(F.expr("rn = (n + 1) DIV 2"))
        .agg(F.max("y").alias("gm"))
    )
    ss = res.crossJoin(F.broadcast(gmed)).agg(
        F.sum(
            F.expr("CAST(y - gm AS DECIMAL(38,0)) * (y - gm)")
        ).alias("sst"),
        F.sum(
            F.expr("CAST(y - wmed AS DECIMAL(38,0)) * (y - wmed)")
        ).alias("ssr"),
    )
    base = res.select("dow", "n_days", "wmed").distinct()
    return (
        base.join(rmad, "dow")
        .crossJoin(F.broadcast(ss))
        .select(
            "dow",
            "n_days",
            F.col("wmed").alias("weekday_median"),
            F.col("wmad").alias("residual_mad"),
            # NULLIF guard (rule 40): a 1-day series zeroes sst
            F.expr(
                "CAST((sst - ssr) * 1000000 DIV NULLIF(sst, 0) AS BIGINT)"
            ).alias("explained_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Expected shortfall (CVaR) of daily revenue
# ---------------------------------------------------------------------------


@register(
    "expected_shortfall_daily",
    "5% expected shortfall (CVaR) of daily revenue: VaR = the k-th "
    "smallest daily total with k = max(n DIV 20, 1), ES = the exact "
    "micro-dollar mean of those k worst days (HUGEINT/DECIMAL "
    "product, truncating DIV defined into the estimator) — the "
    "coherent tail-risk measure revenue_max_drawdown (path risk) "
    "doesn't capture. Order statistics ride a row_number over the "
    "calendar-BOUNDED daily series with (y, day) total order (rule "
    "20). One fact-scale shuffle (the daily rollup); everything "
    "after is bounded-table algebra.",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
      FROM orders
      GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    r AS (
      SELECT day, y, ROW_NUMBER() OVER (ORDER BY y, day) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM d
    ),
    kk AS (SELECT n, GREATEST(n // 20, 1) AS k FROM r LIMIT 1),
    tail AS (
      SELECT r.n, k.k,
             CAST(SUM(CASE WHEN r.rn <= k.k THEN r.y END) AS BIGINT)
               AS tail_sum,
             MAX(CASE WHEN r.rn = k.k THEN r.y END) AS var_dollars
      FROM r CROSS JOIN kk k
      GROUP BY r.n, k.k
    )
    SELECT n AS n_days, k AS k_tail, var_dollars,
           CAST(CAST(tail_sum AS HUGEINT) * 1000000 // k AS BIGINT)
             AS es_micro_dollars,
           CAST(tail_sum AS DOUBLE) / CAST(k AS DOUBLE) AS es_dollars
    FROM tail
    """,
)
def q_expected_shortfall_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    r = d.select(
        "day",
        "y",
        F.row_number().over(Window.orderBy("y", "day")).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    kk = r.select("n", F.expr("GREATEST(n DIV 20, 1)").alias("k")).limit(1)
    tail = (
        r.crossJoin(F.broadcast(kk.drop("n")))
        .groupBy("n", "k")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("k"), F.col("y")))
            .cast("bigint")
            .alias("tail_sum"),
            F.max(F.when(F.col("rn") == F.col("k"), F.col("y"))).alias(
                "var_dollars"
            ),
        )
    )
    return tail.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_tail"),
        "var_dollars",
        F.expr(
            "CAST(CAST(tail_sum AS DECIMAL(38,0)) * 1000000 DIV k"
            " AS BIGINT)"
        ).alias("es_micro_dollars"),
        F.expr("CAST(tail_sum AS DOUBLE) / CAST(k AS DOUBLE)").alias(
            "es_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# V-shape (drawdown-recovery) pattern census on daily revenue
# ---------------------------------------------------------------------------

_VS_MIN_RUN = 2


@register(
    "vshape_pattern_census",
    "MATCH_RECOGNIZE-style V-shape extraction on daily revenue: "
    "maximal strict down-runs immediately followed by up-runs (both "
    f">= {_VS_MIN_RUN} days), reported as the top-5 by drop depth "
    "with (valley day, drop, recovery, run lengths) — the "
    "pattern-variable query SQL:2016 row pattern matching expresses, "
    "built from gaps-and-islands over the sign sequence (rn - rn per "
    "sign partition), run endpoint values via min/max-by day, and a "
    "LEAD join of adjacent runs. Zero-change days break runs (sign 0 "
    "island). Everything after the daily rollup is calendar-bounded "
    "table algebra; exact dollar integers throughout, (drop DESC, "
    "valley day) total order (rule 20).",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
      FROM orders
      GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    s AS (
      SELECT day, y,
             CASE WHEN y > LAG(y) OVER w THEN 1
                  WHEN y < LAG(y) OVER w THEN -1
                  ELSE 0 END AS sgn,
             COALESCE(LAG(y) OVER w, y) AS y_prev,
             ROW_NUMBER() OVER w AS rn
      FROM d
      WINDOW w AS (ORDER BY day)
    ),
    isl AS (
      SELECT day, y, y_prev, sgn, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY sgn ORDER BY rn) AS grp
      FROM s WHERE rn > 1
    ),
    runs AS (
      SELECT sgn, grp,
             CAST(COUNT(*) AS BIGINT) AS len,
             MIN(rn) AS start_rn, MAX(rn) AS end_rn,
             MIN(day) AS start_day, MAX(day) AS end_day,
             MAX(CASE WHEN rn_in = 1 THEN y_start END) AS y_start,
             MAX(CASE WHEN rn_in_rev = 1 THEN y END) AS y_end
      FROM (
        SELECT day, y, sgn, rn, grp,
               ROW_NUMBER() OVER (PARTITION BY sgn, grp ORDER BY rn)
                 AS rn_in,
               ROW_NUMBER() OVER (PARTITION BY sgn, grp ORDER BY rn DESC)
                 AS rn_in_rev,
               FIRST_VALUE(y_prev) OVER (PARTITION BY sgn, grp
                 ORDER BY rn) AS y_start
        FROM isl
      )
      GROUP BY sgn, grp
    ),
    adj AS (
      SELECT a.end_day AS valley_day,
             a.len AS down_len, b.len AS up_len,
             a.y_start - a.y_end AS drop_dollars,
             b.y_end - a.y_end AS recovery_dollars
      FROM runs a JOIN runs b ON b.start_rn = a.end_rn + 1
      WHERE a.sgn = -1 AND b.sgn = 1
        AND a.len >= {_VS_MIN_RUN} AND b.len >= {_VS_MIN_RUN}
    )
    SELECT valley_day, down_len, up_len, drop_dollars, recovery_dollars
    FROM adj
    ORDER BY drop_dollars DESC, valley_day
    LIMIT 5
    """,
)
def q_vshape_pattern_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("day")
    s = d.select(
        "day",
        "y",
        F.when(F.col("y") > F.lag("y").over(w), 1)
        .when(F.col("y") < F.lag("y").over(w), -1)
        .otherwise(0)
        .alias("sgn"),
        F.coalesce(F.lag("y").over(w), F.col("y")).alias("y_prev"),
        F.row_number().over(w).alias("rn"),
    )
    isl = s.filter(F.col("rn") > 1).withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(Window.partitionBy("sgn").orderBy("rn")),
    )
    wg = Window.partitionBy("sgn", "grp")
    inner = isl.select(
        "day",
        "y",
        "sgn",
        "rn",
        "grp",
        F.row_number().over(wg.orderBy("rn")).alias("rn_in"),
        F.row_number().over(wg.orderBy(F.col("rn").desc())).alias(
            "rn_in_rev"
        ),
        F.first("y_prev").over(wg.orderBy("rn")).alias("y_start"),
    )
    runs = inner.groupBy("sgn", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("rn").alias("start_rn"),
        F.max("rn").alias("end_rn"),
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.max(F.when(F.col("rn_in") == 1, F.col("y_start"))).alias(
            "y_start"
        ),
        F.max(F.when(F.col("rn_in_rev") == 1, F.col("y"))).alias("y_end"),
    )
    a = runs.alias("a")
    b = runs.alias("b")
    adj = (
        a.join(b, F.col("b.start_rn") == F.col("a.end_rn") + 1)
        .filter(
            (F.col("a.sgn") == -1)
            & (F.col("b.sgn") == 1)
            & (F.col("a.len") >= _VS_MIN_RUN)
            & (F.col("b.len") >= _VS_MIN_RUN)
        )
        .select(
            F.col("a.end_day").alias("valley_day"),
            F.col("a.len").alias("down_len"),
            F.col("b.len").alias("up_len"),
            (F.col("a.y_start") - F.col("a.y_end")).alias("drop_dollars"),
            (F.col("b.y_end") - F.col("a.y_end")).alias(
                "recovery_dollars"
            ),
        )
    )
    return adj.orderBy(F.col("drop_dollars").desc(), "valley_day").limit(5)


# ---------------------------------------------------------------------------
# Rolling 30-day OLS slope of daily revenue
# ---------------------------------------------------------------------------

_RO_WIN = 30

_RO_SLOPE = "(s1d / s2d)"


@register(
    "rolling_ols_slope_30d",
    "Rolling 30-day OLS slope of daily revenue (dollars/day): per "
    "day, the trend fitted to the trailing-30 window from EXACT "
    "integer window sums — S1 = n*Sxy - Sx*Sy and S2 = n*Sxx - Sx^2 "
    "computed per row in HUGEINT/DECIMAL (rule 36) and "
    "split-converted once, slope = S1/S2 ONE IEEE division. The "
    "local-trend monitor that theil_sen_daily_trend (global, robust) "
    "and ols trends (global, per-nation) don't give: where the slope "
    "flips sign. Windows run over the calendar-BOUNDED daily series; "
    "only full windows emit. One fact-scale shuffle (daily rollup).",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
      FROM orders
      GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    w AS (
      SELECT day, y,
             CAST(COUNT(*) OVER tw AS BIGINT) AS n,
             CAST(SUM(day) OVER tw AS BIGINT) AS sx,
             CAST(SUM(y) OVER tw AS BIGINT) AS sy,
             SUM(CAST(day AS HUGEINT) * day) OVER tw AS sxx,
             SUM(CAST(day AS HUGEINT) * y) OVER tw AS sxy
      FROM d
      WINDOW tw AS (ORDER BY day ROWS BETWEEN {_RO_WIN - 1} PRECEDING
                    AND CURRENT ROW)
    ),
    e AS (
      SELECT day, y,
             {_du('(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)')}
               AS s1d,
             {_du('(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)')}
               AS s2d
      FROM w WHERE n = {_RO_WIN}
    )
    SELECT day, y AS revenue,
           {_RO_SLOPE} AS slope_per_day,
           {_RO_SLOPE} > 0.0 AS rising
    FROM e
    """,
)
def q_rolling_ols_slope_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    tw = Window.orderBy("day").rowsBetween(-(_RO_WIN - 1), 0)
    w = d.select(
        "day",
        "y",
        F.count(F.lit(1)).over(tw).cast("bigint").alias("n"),
        F.sum("day").over(tw).cast("bigint").alias("sx"),
        F.sum("y").over(tw).cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(day AS DECIMAL(38,0)) * day")).over(tw).alias(
            "sxx"
        ),
        F.sum(F.expr("CAST(day AS DECIMAL(38,0)) * y")).over(tw).alias(
            "sxy"
        ),
    )
    e = w.filter(F.col("n") == _RO_WIN).select(
        "day",
        "y",
        F.expr(
            _sp(
                "(CAST(n AS DECIMAL(38,0)) * sxy"
                " - CAST(sx AS DECIMAL(38,0)) * sy)"
            )
        ).alias("s1d"),
        F.expr(
            _sp(
                "(CAST(n AS DECIMAL(38,0)) * sxx"
                " - CAST(sx AS DECIMAL(38,0)) * sx)"
            )
        ).alias("s2d"),
    )
    return e.select(
        "day",
        F.col("y").alias("revenue"),
        F.expr(_RO_SLOPE).alias("slope_per_day"),
        F.expr(f"{_RO_SLOPE} > 0.0").alias("rising"),
    )


# ---------------------------------------------------------------------------
# Deterministic RANSAC line fit on the daily revenue series
# ---------------------------------------------------------------------------

_RS_RANKS = (1, 2, 3, 4)  # candidate pairs at ranks k*n/10 vs n+1-k*n/10


@register(
    "ransac_line_daily",
    "Deterministic RANSAC line fit on daily revenue (kilo-dollars): "
    "four candidate lines through chronological-rank-anchored day "
    "pairs (rank k*n/10 paired with n+1-k*n/10 — a fixed, "
    "data-dependent but random-free candidate set), each scored by "
    "its EXACT inlier count under the fully cross-multiplied integer "
    "test |(y-y1)(x2-x1) - (y2-y1)(x-x1)| <= tol*(x2-x1) with tol = "
    "median(y) DIV 10 — no division, no float residual, so the "
    "consensus winner is bit-deterministic. The consensus-based "
    "robust fit completing theil_sen_daily_trend (median-of-slopes) "
    "and ransac's inlier_ppm says how linear the series actually "
    "is. All candidate algebra on the calendar-bounded daily table.",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS x,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               // 1000 AS y
      FROM orders GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    r AS (
      SELECT x, y, ROW_NUMBER() OVER (ORDER BY x) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM d
    ),
    med AS (
      SELECT MAX(y) // 10 AS tol FROM (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, x) AS yr,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM d
      ) WHERE yr = (n + 1) // 2
    ),
    ranks(k) AS (VALUES {', '.join(f'({k})' for k in _RS_RANKS)}),
    cand AS (
      SELECT k, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM ranks
      JOIN r a ON a.rn = GREATEST(k * a.n // 10, 1)
      JOIN r b ON b.rn = b.n + 1 - GREATEST(k * b.n // 10, 1)
    ),
    scored AS (
      SELECT c.k, c.x1, c.x2,
             (c.y2 - c.y1) * 1000000 // NULLIF(c.x2 - c.x1, 0) AS slope_ppm,
             CAST(SUM(CASE WHEN
               abs((d.y - c.y1) * (c.x2 - c.x1)
                   - (c.y2 - c.y1) * (d.x - c.x1))
               <= m.tol * (c.x2 - c.x1)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM cand c CROSS JOIN med m CROSS JOIN d
      GROUP BY c.k, c.x1, c.x2, c.y1, c.y2
    )
    SELECT k AS candidate, x1 AS anchor_day1, x2 AS anchor_day2,
           slope_ppm, n_inliers, n_days,
           n_inliers * 1000000 // n_days AS inlier_ppm
    FROM scored
    ORDER BY n_inliers DESC, slope_ppm, k
    LIMIT 1
    """,
)
def q_ransac_line_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("x")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)"
            " DIV 1000"
        ).alias("y")
    )
    r = d.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x")).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    med = (
        d.select(
            "y",
            F.row_number().over(Window.orderBy("y", "x")).alias("yr"),
            F.count(F.lit(1))
            .over(Window.partitionBy())
            .cast("bigint")
            .alias("n"),
        )
        .filter(F.expr("yr = (n + 1) DIV 2"))
        .agg(F.expr("MAX(y) DIV 10").alias("tol"))
    )
    ranks = spark.createDataFrame([(k,) for k in _RS_RANKS], "k long")
    a = r.alias("a")
    b = r.alias("b")
    cand = (
        ranks.join(
            a, F.col("a.rn") == F.expr("GREATEST(k * a.n DIV 10, 1)")
        )
        .join(
            b,
            F.col("b.rn")
            == F.expr("b.n + 1 - GREATEST(k * b.n DIV 10, 1)"),
        )
        .select(
            "k",
            F.col("a.x").alias("x1"),
            F.col("a.y").alias("y1"),
            F.col("b.x").alias("x2"),
            F.col("b.y").alias("y2"),
        )
    )
    scored = (
        cand.crossJoin(F.broadcast(med))
        .crossJoin(d)
        .groupBy("k", "x1", "x2", "y1", "y2")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "abs((y - y1) * (x2 - x1) - (y2 - y1) * (x - x1))"
                        " <= tol * (x2 - x1)"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .withColumn(
            # NULLIF guard (rule 40): 1-day series -> coincident anchors
            "slope_ppm", F.expr("(y2 - y1) * 1000000 DIV NULLIF(x2 - x1, 0)")
        )
    )
    return (
        scored.select(
            F.col("k").alias("candidate"),
            F.col("x1").alias("anchor_day1"),
            F.col("x2").alias("anchor_day2"),
            "slope_ppm",
            "n_inliers",
            "n_days",
            F.expr("n_inliers * 1000000 DIV n_days").alias("inlier_ppm"),
        )
        .orderBy(F.col("n_inliers").desc(), "slope_ppm", "candidate")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Deming (errors-in-both-variables) regression: revenue ~ order count
# ---------------------------------------------------------------------------

# NULLIF guard (CROSS_ENGINE rule 40): a 1-day series zeroes vxy (and
# every other central moment) -> 0/0; shared by both engines
_DM_SLOPE = (
    "((vyy - vxx + sqrt((vyy - vxx) * (vyy - vxx) + 4.0 * vxy * vxy))"
    " / NULLIF(2.0 * vxy, 0))"
)


@register(
    "deming_regression_daily",
    "Deming regression of daily revenue (kilo-dollars) on daily "
    "order count with equal error variances (delta = 1): slope = "
    "(Syy - Sxx + sqrt((Syy - Sxx)^2 + 4 Sxy^2)) / (2 Sxy) — the "
    "errors-in-BOTH-variables fit OLS gets wrong when the regressor "
    "is itself a noisy measurement (both series here are daily "
    "aggregates of the same process). Scaled central moments "
    "n*S.. - S*S stay exact in HUGEINT/DECIMAL (rule 36) and "
    "split-convert once; slope and intercept are one shared IEEE "
    "tree. One fact pass to the calendar-bounded daily table; 1-row "
    "output.",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               // 1000 AS y
      FROM orders GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM d
    ),
    e AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             {_du('(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)')} AS vxx,
             {_du('(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)')} AS vxy,
             {_du('(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)')} AS vyy
      FROM m
    )
    SELECT n AS n_days,
           {_DM_SLOPE} AS deming_slope,
           syd / NULLIF(nd, 0) - {_DM_SLOPE} * (sxd / NULLIF(nd, 0))
             AS deming_intercept
    FROM e
    """,
)
def q_deming_regression_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)"
            " DIV 1000"
        ).alias("y"),
    )
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    e = m.select(
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.expr(
            _sp("(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)")
        ).alias("vxx"),
        F.expr(
            _sp("(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)")
        ).alias("vxy"),
        F.expr(
            _sp("(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)")
        ).alias("vyy"),
    )
    return e.select(
        F.col("n").alias("n_days"),
        F.expr(_DM_SLOPE).alias("deming_slope"),
        F.expr(
            f"syd / NULLIF(nd, 0) - {_DM_SLOPE} * (sxd / NULLIF(nd, 0))"
        ).alias(
            "deming_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Augmented Dickey-Fuller unit-root test (lag-0, with constant)
# ---------------------------------------------------------------------------

_ADF_GAMMA = "(sxyd / sxxd)"
_ADF_T = (
    f"({_ADF_GAMMA}"
    f" / sqrt(((syyd - sxyd * sxyd / sxxd) / (nd - 2.0)) / sxxd))"
)


@register(
    "adf_unit_root_test",
    "Dickey-Fuller unit-root test on daily revenue (kilo-dollars, "
    "constant-only regression, lag 0): regress delta_y on y_{{t-1}} "
    "— gamma ~ 0 means a random walk (shocks persist), gamma << 0 "
    "means mean reversion; t = gamma / SE(gamma) vs the "
    "Dickey-Fuller constant-case 5% critical value -2.86 (a "
    "DISTRIBUTION-SPECIFIC literal — the normal -1.96 would "
    "over-reject). Centered moments of the (y_lag, dy) pairs stay "
    "exact in HUGEINT/DECIMAL through the n-scaled S.. - S*S forms "
    "with rule-35 splits; gamma, SE and t are one shared IEEE tree. "
    "The stationarity gate for every forecasting query downstream "
    "(Holt, naive MAE, rolling OLS). Bounded daily table; 1-row "
    "output.",
    f"""
    WITH d AS (
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               // 1000 AS y
      FROM orders GROUP BY epoch_us(o_orderdate) // {_DAY}
    ),
    p AS (
      SELECT y - LAG(y) OVER (ORDER BY day) AS dy,
             LAG(y) OVER (ORDER BY day) AS yl
      FROM d
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yl) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
             SUM(CAST(yl AS HUGEINT) * yl) AS sxx,
             SUM(CAST(yl AS HUGEINT) * dy) AS sxy,
             SUM(CAST(dy AS HUGEINT) * dy) AS syy
      FROM p WHERE yl IS NOT NULL
    ),
    e AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             {_du('(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)')} AS sxxd,
             {_du('(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)')} AS sxyd,
             {_du('(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)')} AS syyd
      FROM m
    )
    SELECT n AS n_days,
           {_ADF_GAMMA} AS gamma_hat,
           {_ADF_T} AS t_stat,
           {_ADF_T} < -2.86 AS stationary_95
    FROM e
    """,
)
def q_adf_unit_root_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)"
            " DIV 1000"
        ).alias("y")
    )
    w = Window.orderBy("day")
    p = d.select(
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("yl"),
    ).filter(F.col("yl").isNotNull())
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yl").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(yl AS DECIMAL(38,0)) * yl")).alias("sxx"),
        F.sum(F.expr("CAST(yl AS DECIMAL(38,0)) * dy")).alias("sxy"),
        F.sum(F.expr("CAST(dy AS DECIMAL(38,0)) * dy")).alias("syy"),
    )
    e = m.select(
        "n",
        F.col("n").cast("double").alias("nd"),
        F.expr(
            _sp("(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)")
        ).alias("sxxd"),
        F.expr(
            _sp("(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)")
        ).alias("sxyd"),
        F.expr(
            _sp("(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)")
        ).alias("syyd"),
    )
    return e.select(
        F.col("n").alias("n_days"),
        F.expr(_ADF_GAMMA).alias("gamma_hat"),
        F.expr(_ADF_T).alias("t_stat"),
        F.expr(f"{_ADF_T} < -2.86").alias("stationary_95"),
    )


_DAILY_KILO_DUCK = f"""
      SELECT epoch_us(o_orderdate) // {_DAY} AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               // 1000 AS y
      FROM orders GROUP BY epoch_us(o_orderdate) // {_DAY}
"""


def _daily_kilo_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)"
            " DIV 1000"
        ).alias("y")
    )


# ---------------------------------------------------------------------------
# Geometric adstock transform of daily revenue
# ---------------------------------------------------------------------------

_AD_LAMBDA = 0.7
_AD_L = 10
_AD_W = tuple(
    round(_AD_LAMBDA**k * 1_000_000_000) for k in range(_AD_L)
)


@register(
    "adstock_geometric_decay",
    "Geometric adstock transform of daily revenue (lambda=0.7, 10 "
    "lags): adstock_t = sum_k lambda^k y_(t-k) with the decay powers "
    "PRECOMPUTED as integer ppb literals (the media-mix carryover "
    "transform; a recursive float state would be engine-ordered, the "
    "windowed literal form is exact integer arithmetic end-to-end). "
    "Emitted for full-history days only; adstock reported in exact "
    "kilo-dollar fixed point (ppb product DIV 1e9 truncation defined "
    "into the transform). Calendar-bounded daily window; one fact "
    "pass.",
    f"""
    WITH d AS ({_DAILY_KILO_DUCK}),
    w AS (
      SELECT day, y,
             {' + '.join(f'{w} * COALESCE(LAG(y, {k}) OVER (ORDER BY day), 0)' for k, w in enumerate(_AD_W))}
               AS ad_ppb,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM d
    )
    SELECT day, y AS revenue_kilo,
           CAST(ad_ppb // 1000000000 AS BIGINT) AS adstock_kilo
    FROM w WHERE rn >= {_AD_L}
    """,
)
def q_adstock_geometric_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _daily_kilo_spark(spark, sf_dir)
    w = Window.orderBy("day")
    ad = None
    for k, wt in enumerate(_AD_W):
        term = wt * F.coalesce(
            F.lag("y", k).over(w) if k else F.col("y"), F.lit(0)
        )
        ad = term if ad is None else ad + term
    out = d.select(
        "day",
        "y",
        ad.alias("ad_ppb"),
        F.row_number().over(w).alias("rn"),
    )
    return out.filter(F.col("rn") >= _AD_L).select(
        "day",
        F.col("y").alias("revenue_kilo"),
        F.expr("CAST(ad_ppb DIV 1000000000 AS BIGINT)").alias(
            "adstock_kilo"
        ),
    )


# ---------------------------------------------------------------------------
# One-level Haar energy decomposition of daily revenue
# ---------------------------------------------------------------------------


@register(
    "haar_energy_decomposition",
    "One-level (unnormalized) Haar wavelet energy decomposition of "
    "daily revenue: consecutive day pairs give approximation "
    "(y1 + y2) and detail (y1 - y2) coefficients; the detail energy "
    "share says how much of the series' energy lives at the "
    "day-to-day frequency vs slower structure — the "
    "signal-smoothness census behind choosing rollup granularity. "
    "Pairing is by chronological rank DIV 2 (a trailing odd day is "
    "dropped, reported); energies are exact HUGEINT/DECIMAL sums of "
    "integer squares, the share is truncating ppm. Bounded daily "
    "table algebra after one fact pass.",
    f"""
    WITH d AS ({_DAILY_KILO_DUCK}),
    r AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM d
    ),
    pr AS (
      SELECT (rn - 1) // 2 AS p,
             MAX(CASE WHEN rn % 2 = 1 THEN y END) AS y1,
             MAX(CASE WHEN rn % 2 = 0 THEN y END) AS y2
      FROM r WHERE rn <= n - n % 2
      GROUP BY (rn - 1) // 2
    ),
    e AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(y1 + y2 AS HUGEINT) * (y1 + y2)) AS ea,
             SUM(CAST(y1 - y2 AS HUGEINT) * (y1 - y2)) AS ed
      FROM pr
    )
    SELECT n_pairs,
           CAST(ea AS BIGINT) AS approx_energy,
           CAST(ed AS BIGINT) AS detail_energy,
           CAST(ed * 1000000 // (ea + ed) AS BIGINT) AS detail_share_ppm
    FROM e
    """,
)
def q_haar_energy_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _daily_kilo_spark(spark, sf_dir)
    r = d.select(
        "y",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    pr = (
        r.filter(F.expr("rn <= n - n % 2"))
        .groupBy(F.expr("(rn - 1) DIV 2").alias("p"))
        .agg(
            F.max(F.when(F.col("rn") % 2 == 1, F.col("y"))).alias("y1"),
            F.max(F.when(F.col("rn") % 2 == 0, F.col("y"))).alias("y2"),
        )
    )
    e = pr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.expr("CAST(y1 + y2 AS DECIMAL(38,0)) * (y1 + y2)")).alias(
            "ea"
        ),
        F.sum(F.expr("CAST(y1 - y2 AS DECIMAL(38,0)) * (y1 - y2)")).alias(
            "ed"
        ),
    )
    return e.select(
        "n_pairs",
        F.expr("CAST(ea AS BIGINT)").alias("approx_energy"),
        F.expr("CAST(ed AS BIGINT)").alias("detail_energy"),
        F.expr("CAST(ed * 1000000 DIV (ea + ed) AS BIGINT)").alias(
            "detail_share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test on daily revenue
# ---------------------------------------------------------------------------

# NULLIF guards (CROSS_ENGINE rule 40): an empty series zeroes nd, a
# constant/1-day series zeroes m2 — ANSI Spark throws on /0 where
# DuckDB yields NULL; shared strings cover both engines identically
_JB_M2 = "((s2d - s1d * s1d / NULLIF(nd, 0)) / NULLIF(nd, 0))"
_JB_M3 = (
    "((s3d - 3.0 * s2d * s1d / NULLIF(nd, 0)"
    " + 2.0 * s1d * s1d * s1d / NULLIF(nd * nd, 0))"
    " / NULLIF(nd, 0))"
)
_JB_M4 = (
    "((s4d - 4.0 * s3d * s1d / NULLIF(nd, 0)"
    " + 6.0 * s2d * s1d * s1d / NULLIF(nd * nd, 0)"
    " - 3.0 * s1d * s1d * s1d * s1d / NULLIF(nd * nd * nd, 0))"
    " / NULLIF(nd, 0))"
)
_JB_SKEW = f"({_JB_M3} / NULLIF(sqrt({_JB_M2}) * {_JB_M2}, 0))"
_JB_KURT = f"({_JB_M4} / NULLIF({_JB_M2} * {_JB_M2}, 0))"
_JB_STAT = (
    f"(nd / 6.0 * ({_JB_SKEW} * {_JB_SKEW}"
    f" + ({_JB_KURT} - 3.0) * ({_JB_KURT} - 3.0) / 4.0))"
)


@register(
    "jarque_bera_normality",
    "Jarque-Bera normality test of daily revenue: JB = n/6 (S^2 + "
    "(K-3)^2 / 4) from skewness and kurtosis built out of EXACT "
    "integer raw power sums — the series is first truncated by a "
    "DATA-DEPENDENT power-of-ten scale s = 10^ceil-ish chosen so "
    "max|y'| <= 1e5 (both engines derive the identical s from "
    "MAX(y), so the truncation is defined into the statistic and "
    "the fourth-power sum stays inside rule-35 split validity at "
    "ANY SF). Central moments come from the raw-moment expansion as "
    "one shared IEEE tree; verdict vs the literal chi2(2) critical "
    "value 5.99. The normality gate in front of every z/t-based "
    "query (welch, bollinger, cp/cpk). Bounded daily table.",
    f"""
    WITH d AS ({_DAILY_KILO_DUCK}),
    sc AS (
      SELECT GREATEST(MAX(abs(y)) // 100000, 1) AS s FROM d
    ),
    q AS (SELECT y // s AS x FROM d CROSS JOIN sc),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             SUM(CAST(x AS HUGEINT) * x) AS s2,
             SUM(CAST(x AS HUGEINT) * x * x) AS s3,
             SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
      FROM q
    ),
    e AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) AS s1d,
             {_du('s2')} AS s2d, {_du('s3')} AS s3d, {_du('s4')} AS s4d
      FROM m
    )
    SELECT n AS n_days,
           {_JB_SKEW} AS skewness,
           {_JB_KURT} AS kurtosis,
           {_JB_STAT} AS jb_stat,
           {_JB_STAT} > 5.99 AS non_normal_95
    FROM e
    """,
)
def q_jarque_bera_normality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _daily_kilo_spark(spark, sf_dir)
    sc = d.agg(F.expr("GREATEST(MAX(abs(y)) DIV 100000, 1)").alias("s"))
    q = d.crossJoin(F.broadcast(sc)).select(F.expr("y DIV s").alias("x"))
    m = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("s2"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x * x")).alias("s3"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).alias("s4"),
    )
    e = m.select(
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("s1").cast("double").alias("s1d"),
        F.expr(_sp("s2")).alias("s2d"),
        F.expr(_sp("s3")).alias("s3d"),
        F.expr(_sp("s4")).alias("s4d"),
    )
    return e.select(
        F.col("n").alias("n_days"),
        F.expr(_JB_SKEW).alias("skewness"),
        F.expr(_JB_KURT).alias("kurtosis"),
        F.expr(_JB_STAT).alias("jb_stat"),
        F.expr(f"{_JB_STAT} > 5.99").alias("non_normal_95"),
    )


# ---------------------------------------------------------------------------
# Lo-MacKinlay variance ratio (q = 5) on daily revenue
# ---------------------------------------------------------------------------

_VR_Q = 5

_VR = (
    "((vqd / nqd) / (5.0 * (v1d / n1d)))"
)


@register(
    "variance_ratio_test",
    f"Lo-MacKinlay variance ratio VR({_VR_Q}) on daily revenue "
    "(kilo-dollars): the variance of 5-day overlapping changes over "
    "5x the variance of 1-day changes — VR = 1 for a random walk, "
    "VR < 1 for mean reversion, VR > 1 for trending. Both variances "
    "use n-scaled exact central moments (HUGEINT/DECIMAL, rule-35 "
    "split) of LAG differences over the calendar-bounded daily "
    "table; the ratio is one shared IEEE tree. Corroborates "
    "adf_unit_root_test with a test that needs NO regression. 1-row "
    "output.",
    f"""
    WITH d AS ({_DAILY_KILO_DUCK}),
    p AS (
      SELECT y - LAG(y, 1) OVER (ORDER BY day) AS r1,
             y - LAG(y, {_VR_Q}) OVER (ORDER BY day) AS rq
      FROM d
    ),
    m1 AS (
      SELECT CAST(COUNT(r1) AS BIGINT) AS n1,
             CAST(SUM(r1) AS BIGINT) AS s1,
             SUM(CAST(r1 AS HUGEINT) * r1) AS ss1
      FROM p WHERE r1 IS NOT NULL
    ),
    mq AS (
      SELECT CAST(COUNT(rq) AS BIGINT) AS nq,
             CAST(SUM(rq) AS BIGINT) AS sq,
             SUM(CAST(rq AS HUGEINT) * rq) AS ssq
      FROM p WHERE rq IS NOT NULL
    ),
    e AS (
      SELECT n1, nq,
             CAST(n1 AS DOUBLE) AS n1d, CAST(nq AS DOUBLE) AS nqd,
             {_du('(CAST(n1 AS HUGEINT) * ss1 - CAST(s1 AS HUGEINT) * s1)')} AS v1n,
             {_du('(CAST(nq AS HUGEINT) * ssq - CAST(sq AS HUGEINT) * sq)')} AS vqn
      FROM m1 CROSS JOIN mq
    ),
    f AS (
      SELECT n1, nq, n1d, nqd,
             v1n / n1d AS v1d, vqn / nqd AS vqd
      FROM e
    )
    SELECT n1 AS n_diffs_1d, nq AS n_diffs_5d,
           {_VR} AS variance_ratio,
           {_VR} < 1.0 AS mean_reverting
    FROM f
    """,
)
def q_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_kilo_spark(spark, sf_dir)
    w = Window.orderBy("day")
    p = d.select(
        (F.col("y") - F.lag("y", 1).over(w)).alias("r1"),
        (F.col("y") - F.lag("y", _VR_Q).over(w)).alias("rq"),
    )
    m1 = p.filter(F.col("r1").isNotNull()).agg(
        F.count("r1").cast("bigint").alias("n1"),
        F.sum("r1").cast("bigint").alias("s1"),
        F.sum(F.expr("CAST(r1 AS DECIMAL(38,0)) * r1")).alias("ss1"),
    )
    mq = p.filter(F.col("rq").isNotNull()).agg(
        F.count("rq").cast("bigint").alias("nq"),
        F.sum("rq").cast("bigint").alias("sq"),
        F.sum(F.expr("CAST(rq AS DECIMAL(38,0)) * rq")).alias("ssq"),
    )
    e = m1.crossJoin(F.broadcast(mq)).select(
        "n1",
        "nq",
        F.col("n1").cast("double").alias("n1d"),
        F.col("nq").cast("double").alias("nqd"),
        F.expr(
            _sp("(CAST(n1 AS DECIMAL(38,0)) * ss1 - CAST(s1 AS DECIMAL(38,0)) * s1)")
        ).alias("v1n"),
        F.expr(
            _sp("(CAST(nq AS DECIMAL(38,0)) * ssq - CAST(sq AS DECIMAL(38,0)) * sq)")
        ).alias("vqn"),
    )
    f = e.select(
        "n1",
        "nq",
        "n1d",
        "nqd",
        F.expr("v1n / n1d").alias("v1d"),
        F.expr("vqn / nqd").alias("vqd"),
    )
    return f.select(
        F.col("n1").alias("n_diffs_1d"),
        F.col("nq").alias("n_diffs_5d"),
        F.expr(_VR).alias("variance_ratio"),
        F.expr(f"{_VR} < 1.0").alias("mean_reverting"),
    )
