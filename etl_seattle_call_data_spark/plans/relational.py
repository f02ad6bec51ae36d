"""Relational operator surface over the star tables and the event stream.

Aggregations (group-by, rollup/cube/grouping sets, two-phase distinct),
joins (anti/semi, star, salted, null-safe, lateral, scalar subqueries),
the window-function and scalar-function suites, set operations,
pivot/unpivot, the reference pipeline's repair/parse shapes, SQL-string
queries run verbatim on both engines, and the table-governance audits
built from the same operators: profiling, data-quality gates,
dependency/key discovery, privacy audits and physical-layout advisors.

Cross-engine rules from docs/CROSS_ENGINE.md apply throughout: decimal
sums cast to double at the end, one IEEE division per ratio, fixed-point
``DIV`` over libm, every computed column aliased identically on both
sides, deterministic tie-breaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq, joins, profile
from etl_seattle_call_data_spark.operators.ranking import two_phase_cumsum_in_groups
from etl_seattle_call_data_spark.operators.sampling import hash_bucket
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import _DAY
from etl_seattle_call_data_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4: A1-A4) and the flagship serving query (A3)
# ---------------------------------------------------------------------------


@register(
    "events_by_type",
    "Group-by count over the event stream table — parity with the reference's "
    "declared serving query SELECT call_type, COUNT(*) ... GROUP BY call_type "
    "(reference README.md:130-134).",
    """
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "distinct_order_customers",
    "Distinct key-set dedup (SURVEY A1 — reference transform.py:140-142 "
    "builds .select(key).distinct()).",
    "SELECT DISTINCT o_custkey FROM orders",
)
def q_distinct_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_custkey").distinct()


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3: J1 anti-join cascade, J2 star equi-joins)
# ---------------------------------------------------------------------------


@register(
    "anti_join_cascade",
    "Left-anti equi-join with event-level cascade: drop EVERY line of any "
    "order that has at least one line with l_quantity < 3 — same shape as the "
    "reference's filter_events_with_null_in_service_time "
    "(reference transform.py:138-143: any-null dispatch row removes the whole "
    "CAD event). Aggregated so the result is compact.",
    """
    SELECT l_returnflag, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem bad
      WHERE bad.l_orderkey = lineitem.l_orderkey AND bad.l_quantity < 3
    )
    GROUP BY l_returnflag
    """,
)
def q_anti_join_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bad_orders = li.filter(F.col("l_quantity") < 3).select("l_orderkey").distinct()
    kept = li.join(bad_orders, on="l_orderkey", how="left_anti")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "top_customers_by_revenue",
    "Fact-dim equi-join (SURVEY J2) + groupBy + top-k with deterministic "
    "tiebreak. Customer dim is broadcast (small side).",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
)
def q_top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "star_join_region_revenue",
    "Multi-hop star join (customer→nation→region ⋈ orders ⋈ lineitem): the "
    "star-schema consumption pattern the reference's warehouse serves "
    "(reference README.md:66-82). Dims broadcast.",
    """
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_star_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_dec = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(price_dec * (F.lit(1) - disc_dec)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Projections / filters / null handling (SURVEY §2.2: P4-P7) and
# conditional repair (P7-P9), coalesce merge (F4)
# ---------------------------------------------------------------------------


@register(
    "conditional_repair",
    "3-arm when/otherwise conditional column repair — same shape as the "
    "reference's fill_call_sign_at_scene_time (reference transform.py:25-39). "
    "NULLIF manufactures the nulls the repair fills.",
    """
    WITH base AS (
      SELECT o_orderkey,
             NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS raw_priority,
             o_totalprice
      FROM orders
    )
    SELECT
      CASE
        WHEN raw_priority IS NULL AND o_totalprice > 100000 THEN '1-URGENT'
        WHEN raw_priority IS NULL THEN '5-LOW'
        ELSE raw_priority
      END AS repaired_priority,
      COUNT(*) AS n_orders
    FROM base
    GROUP BY 1
    """,
)
def q_conditional_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    raw = F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED"))
    repaired = (
        F.when(raw.isNull() & (F.col("o_totalprice") > 100000), F.lit("1-URGENT"))
        .when(raw.isNull(), F.lit("5-LOW"))
        .otherwise(raw)
    )
    return (
        orders.select(repaired.alias("repaired_priority"))
        .groupBy("repaired_priority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "null_fill_and_drop",
    "na.fill with per-column defaults + na.drop on a key column (reference "
    "transform.py:130-136: fillna({'dispatch_sector':'UNKNOWN','priority':-1}) "
    "and dropna(subset=[...])). Nulls manufactured with NULLIF.",
    """
    WITH base AS (
      SELECT o_orderkey,
             NULLIF(o_orderstatus, 'P') AS status_n,
             NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio_n
      FROM orders
    )
    SELECT COALESCE(status_n, 'UNKNOWN') AS status_filled,
           COUNT(*) AS n
    FROM base
    WHERE prio_n IS NOT NULL
    GROUP BY 1
    """,
)
def q_null_fill_and_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_n"),
        F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")).alias("prio_n"),
    )
    repaired = base.na.drop(subset=["prio_n"]).na.fill({"status_n": "UNKNOWN"})
    return (
        repaired.groupBy(F.col("status_n").alias("status_filled"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "coalesce_merge",
    "Asymmetric two-source coalesce merge — the reference's SPD/CARE agency "
    "merge (reference transform.py:71-97: coalesce(spd_col, care_col) with "
    "load-bearing argument order).",
    """
    SELECT o_orderkey,
           COALESCE(NULLIF(o_orderstatus, 'O'), o_orderpriority) AS merged_status
    FROM orders
    """,
)
def q_coalesce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.col("o_orderpriority")
        ).alias("merged_status"),
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.6: F1-F12)
# ---------------------------------------------------------------------------


@register(
    "regexp_strip_own_key",
    "regexp_replace with a COLUMN-VALUED pattern: strip each row's own order "
    "key out of a synthesized dispatch id — the reference's unit_id derivation "
    "(reference transform.py:112-117: regexp_replace(col('Call Sign Dispatch "
    "ID'), col('CAD Event Number').cast('string'), '')).",
    """
    SELECT l_orderkey, l_linenumber,
           regexp_replace(
             'U' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),
             CAST(l_orderkey AS VARCHAR), '', 'g') AS unit_id
    FROM lineitem
    """,
)
def q_regexp_strip_own_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dispatch_id = F.concat(
        F.lit("U"), F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_replace(dispatch_id, F.col("l_orderkey").cast("string"), F.lit("")).alias("unit_id"),
    )


@register(
    "duration_seconds",
    "Epoch-seconds arithmetic (reference transform.py:145-154: "
    "unix_timestamp(a) - unix_timestamp(b) response-time derivation): seconds "
    "since midnight per event, averaged per type.",
    """
    SELECT event_type,
           CAST(SUM(CAST(floor(epoch(ts)) - floor(epoch(date_trunc('day', ts))) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_s_since_midnight,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_duration_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    secs = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.date_trunc("day", F.col("ts")))
    return ev.groupBy("event_type").agg(
        (F.sum(secs).cast("double") / F.count(F.lit(1))).alias("avg_s_since_midnight"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "event_date_extraction",
    "Date-part extraction from a timestamp (reference transform.py:61: "
    "event_date = substring(ts, 1, 10)) — emitted as a yyyy-MM-dd string.",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS event_date, COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def q_event_date_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "ampm_timestamp_parse",
    "AM/PM 12-hour timestamp parsing WITHOUT a Python UDF — the native "
    "replacement for the reference's convert_to_24_hour UDF (reference "
    "transform.py:8-23 + to_timestamp at :67). Round-trips ts through "
    "'MM/dd/yyyy hh:mm:ss AM' text and re-parses with a coalesce ladder "
    "(12-hour first, 24-hour fallback) per SURVEY §7.1.",
    """
    SELECT event_id,
           strftime(strptime(strftime(ts, '%m/%d/%Y %I:%M:%S %p'),
                             '%m/%d/%Y %I:%M:%S %p'),
                    '%Y-%m-%d %H:%M:%S') AS parsed_ts
    FROM events
    """,
)
def q_ampm_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    txt = F.date_format("ts", "MM/dd/yyyy hh:mm:ss a")
    parsed = F.coalesce(
        F.try_to_timestamp(txt, F.lit("MM/dd/yyyy hh:mm:ss a")),
        F.try_to_timestamp(txt, F.lit("MM/dd/yyyy HH:mm:ss")),
    )
    return ev.select(
        "event_id", F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("parsed_ts")
    )


# ---------------------------------------------------------------------------
# Window functions, sorts, limits, set ops (SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "window_event_sequence",
    "row_number over (user, time) — the deterministic surrogate-key pattern "
    "that replaces the reference's monotonically_increasing_id (reference "
    "transform.py:197-208; SURVEY §7.4.2). Keeps each user's first 3 events.",
    """
    SELECT event_id, user_id, seq FROM (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      FROM events
    ) WHERE seq <= 3
    """,
)
def q_window_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("seq", F.row_number().over(w))
        .filter(F.col("seq") <= 3)
        .select("event_id", "user_id", "seq")
    )


@register(
    "set_ops_except_intersect",
    "Set operations (EXCEPT/INTERSECT — absent from the reference, SURVEY "
    "§2.5; the anti-join J1 is its lone except-like op): customers with open "
    "orders but no finished orders.",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_set_ops_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.subtract(fin_c)  # subtract == SQL EXCEPT (set semantics)


@register(
    "profile_orders",
    "Single-pass table profile (null counts / exact distincts / min-max) "
    "— the data-quality gate as one aggregation over one scan "
    "(operators/profile.py).",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_orderpriority_nulls,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_orderdate_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS o_custkey_distinct,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS o_orderstatus_distinct,
           MIN(o_totalprice) AS o_totalprice_min,
           MAX(o_totalprice) AS o_totalprice_max,
           MIN(o_orderdate) AS o_orderdate_min,
           MAX(o_orderdate) AS o_orderdate_max
    FROM orders
    """,
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return profile.profile_table(
        o,
        null_cols=["o_orderpriority", "o_orderdate"],
        distinct_cols=["o_custkey", "o_orderstatus"],
        minmax_cols=["o_totalprice", "o_orderdate"],
    )


@register(
    "window_value_suite",
    "Value-navigation window suite per customer order history: "
    "first/last/nth value over a running frame plus a 3-row moving "
    "average (decimal-summed, one divide — cross-engine exact).",
    """
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w_run AS first_price,
           LAST_VALUE(o_totalprice) OVER w_run AS latest_price,
           COALESCE(NTH_VALUE(o_totalprice, 2) OVER w_run, -1.0) AS second_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_mov AS DOUBLE)
             / (COUNT(*) OVER w_mov) AS moving_avg_3,
           MAX(o_totalprice) OVER w_mov AS moving_max_3
    FROM orders
    WINDOW
      w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = base.rowsBetween(-2, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w_run).alias("first_price"),
        F.last("o_totalprice").over(w_run).alias("latest_price"),
        F.coalesce(F.nth_value("o_totalprice", 2).over(w_run), F.lit(-1.0)).alias("second_price"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w_mov).cast("double")
            / F.count(F.lit(1)).over(w_mov)
        ).alias("moving_avg_3"),
        F.max("o_totalprice").over(w_mov).alias("moving_max_3"),
    )


@register(
    "salted_join_parity",
    "Skew-salted equi-join (deterministic fact-side salt, dim replicated "
    "n_salts ways) — result-identical to the plain join, hot keys spread "
    "over n_salts tasks (operators/joins.py::salted_join).",
    """
    SELECT o_orderkey, o_custkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    return joins.salted_join(o, c, on=["o_custkey"], salt_by="o_orderkey", n_salts=8).select(
        "o_orderkey", "o_custkey", "c_name"
    )


@register(
    "hot_salted_join_parity",
    "Differentiated (hot-key-only) salted join — result-identical to "
    "the plain inner join on a key with a MANUFACTURED 30%-hot head "
    "(3 of every 10 orders remapped to custkey 1) plus a NULL stripe "
    "(1 in 10 — inner-join-dropped on both engines, exercising the "
    "null-FK skew path). Only detected heavy hitters are salted, so "
    "dim replication is n_salts x |hot keys| rows, not n_salts x |dim| "
    "(operators/joins.py::hot_salted_join; measured 15.6 s unsalted vs "
    "10.6 s at sf10/50%-hot, tools/skew_bench.py).",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 9 THEN NULL
                WHEN o_orderkey % 10 < 3 THEN 1
                ELSE o_custkey END AS hot_custkey,
           c_name
    FROM orders JOIN customer
      ON (CASE WHEN o_orderkey % 10 = 9 THEN NULL
               WHEN o_orderkey % 10 < 3 THEN 1
               ELSE o_custkey END) = c_custkey
    """,
)
def q_hot_salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "hot_custkey",
        F.when(F.col("o_orderkey") % 10 == 9, F.lit(None).cast("long"))
        .when(F.col("o_orderkey") % 10 < 3, F.lit(1).cast("long"))
        .otherwise(F.col("o_custkey")),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("hot_custkey"), "c_name"
    )
    return joins.hot_salted_join(
        o, c, on=["hot_custkey"], salt_by="o_orderkey", n_salts=8
    ).select("o_orderkey", "hot_custkey", "c_name")


# ---------------------------------------------------------------------------
# Multi-dimensional aggregates: ROLLUP / CUBE / GROUPING SETS
# ---------------------------------------------------------------------------


@register(
    "rollup_pricing",
    "ROLLUP aggregate over (returnflag, linestatus) with grouping_id — "
    "subtotals + grand total in one pass (partial-agg friendly; one shuffle).",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "cube_order_stats",
    "CUBE over (orderstatus, orderpriority): all 4 grouping combinations "
    "with exact decimal totals.",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@register(
    "groupingsets_flag_status",
    "Explicit GROUPING SETS ((returnflag), (linestatus), ()) — the general "
    "form rollup/cube specialize; one shuffle via Expand.",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_groupingsets_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Window-function suite (SURVEY §2.5 W1 — additive capability)
# ---------------------------------------------------------------------------


@register(
    "window_rank_suite",
    "Full ranking/navigation window suite per customer order history: "
    "row_number, lag, lead, ntile, percent_rank, cume_dist over a "
    "deterministic order, rank/dense_rank over a tie-heavy order.",
    """
    SELECT o_orderkey, o_custkey,
           ROW_NUMBER() OVER w1 AS rn,
           -- COALESCE: NULL-free output — pandas turns nullable doubles
           -- into NaN, which hash-compares differently from Spark's None
           COALESCE(LAG(o_totalprice) OVER w1, -1.0) AS prev_price,
           COALESCE(LEAD(o_totalprice) OVER w1, -1.0) AS next_price,
           NTILE(4) OVER w1 AS quartile,
           PERCENT_RANK() OVER w1 AS prank,
           CUME_DIST() OVER w1 AS cdist,
           RANK() OVER w2 AS status_rank,
           DENSE_RANK() OVER w2 AS status_dense_rank
    FROM orders
    WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderstatus)
    """,
)
def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w1).alias("rn"),
        F.coalesce(F.lag("o_totalprice").over(w1), F.lit(-1.0)).alias("prev_price"),
        F.coalesce(F.lead("o_totalprice").over(w1), F.lit(-1.0)).alias("next_price"),
        F.ntile(4).over(w1).alias("quartile"),
        F.percent_rank().over(w1).alias("prank"),
        F.cume_dist().over(w1).alias("cdist"),
        F.rank().over(w2).alias("status_rank"),
        F.dense_rank().over(w2).alias("status_dense_rank"),
    )


# ---------------------------------------------------------------------------
# Scalar function suites (SURVEY §2.6 generalized)
# ---------------------------------------------------------------------------


@register(
    "string_funcs_suite",
    "String scalar-function suite over part names: case, substring, pad, "
    "concat, translate, position, split — all JVM-side Catalyst "
    "expressions inside one codegen stage.",
    """
    SELECT p_partkey,
           upper(p_name) AS uname,
           substr(p_name, 1, 5) AS prefix5,
           lpad(p_brand, 12, '*') AS brand_pad,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
           CAST(strpos(p_name, 'a') AS INTEGER) AS first_a,
           CAST(len(list_filter(string_split(p_name, ' '), x -> x <> '')) AS INTEGER) AS n_words,
           reverse(p_name) AS rname,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    """,
)
def q_string_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.instr("p_name", "a").alias("first_a"),
        F.size(F.filter(F.split("p_name", " "), lambda x: x != "")).alias("n_words"),
        F.reverse("p_name").alias("rname"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "datetime_funcs_suite",
    "Datetime scalar-function suite over order dates: field extraction, "
    "truncation, month arithmetic, day deltas (Spark dayofweek is "
    "1=Sunday; oracle maps DuckDB dow accordingly).",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(day(o_orderdate) AS INTEGER) AS d,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(o_orderdate + INTERVAL 1 MONTH AS TIMESTAMP) AS next_month,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since_95
    FROM orders
    """,
)
def q_datetime_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        # DATE→TIMESTAMP on both sides: pandas widens DATE columns to
        # datetime64 anyway, so compare as timestamps
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.add_months("o_orderdate", 1).cast("timestamp").alias("next_month"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")).alias("days_since_95"),
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_user_event_matrix",
    "Pivot: per-user event-type count matrix (long → wide). Spark plans "
    "pivot as one partial+final hash aggregation — the oracle spells out "
    "the equivalent conditional aggregation.",
    f"""
    SELECT user_id,
           {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (user, type) pair never occurred
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


@register(
    "unpivot_order_amounts",
    "Unpivot/melt (wide → long): order price and per-item aggregates as "
    "(orderkey, measure, value) rows via the native unpivot operator.",
    """
    SELECT o_orderkey, measure, value FROM (
      SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS value FROM orders
      UNION ALL
      SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
    )
    """,
)
def q_unpivot_order_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", F.col("o_totalprice"), F.col("o_custkey").cast("double")
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey"],
        variableColumnName="measure",
        valueColumnName="value",
    ).withColumn(
        "measure",
        F.when(F.col("measure") == "o_totalprice", "totalprice").otherwise("custkey"),
    )


# ---------------------------------------------------------------------------
# Join variants and classic analytics shapes
# ---------------------------------------------------------------------------


@register(
    "semi_join_urgent_customers",
    "Left-semi join: customers with ≥1 urgent order — the EXISTS shape "
    "(complement of the reference's lone anti-join, transform.py:138-143); "
    "plans as a broadcast/shuffled hash semi join, no row duplication.",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q_semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "json_extract_props",
    "JSON-path extraction from the event props payload (the streaming "
    "path's from_json sibling, SURVEY S10) aggregated per event type.",
    """
    SELECT event_type,
           COUNT(*) AS n,
           -- CAST: DuckDB SUM(BIGINT) → HUGEINT → pandas float64
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           MIN(CAST(props->>'k' AS BIGINT)) AS k_min,
           MAX(CAST(props->>'k' AS BIGINT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


@register(
    "array_funcs_suite",
    "Array scalar-function suite over embedding vectors: size, element "
    "access, min/max, bounded slice-sum — scalar outputs (driver-hash "
    "friendly), exact float32→double widening on both engines.",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[len(embedding)] AS DOUBLE) AS last_val,
           CAST(list_min(embedding) AS DOUBLE) AS v_min,
           CAST(list_max(embedding) AS DOUBLE) AS v_max,
           CAST(list_sum(list_transform(embedding[1:8],
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS head8_qsum
    FROM embeddings
    """,
)
def q_array_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    q8 = F.transform(F.slice(e, 1, 8), lambda x: F.round(x.cast("double") * 1000).cast("long"))
    return emb.select(
        "vec_id",
        F.size(e).alias("n_dims"),
        F.element_at(e, 1).cast("double").alias("first_val"),
        F.element_at(e, F.size(e)).cast("double").alias("last_val"),
        F.array_min(e).cast("double").alias("v_min"),
        F.array_max(e).cast("double").alias("v_max"),
        F.aggregate(q8, F.lit(0).cast("long"), lambda a, x: a + x).alias("head8_qsum"),
    )


@register(
    "fuzzy_part_name_pairs",
    "Entity-resolution fuzzy join: distinct part names pair within a "
    "first-token block and keep levenshtein <= 3 — the blocked edit-"
    "distance join that resolves near-identical entity names without "
    "an all-pairs cross join. Candidates scale with block sizes "
    "(bounded by the name vocabulary), never corpus²; both engines "
    "implement classic unweighted Levenshtein so the distance column "
    "is integer-exact.",
    """
    WITH names AS (
      SELECT DISTINCT p_name,
             string_split(p_name, ' ')[1] AS blk
      FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale story: the oracle's first-token block join is quadratic on
    vocabulary-bounded name data (TPC-H first tokens come from a fixed
    ~92-color vocabulary, so block sizes grow LINEARLY with the part
    table — O(n²/92) pairs, the constant-block class the round-8 audit
    flagged). The engine side therefore generates candidates with
    PassJoin chunk keys WITHIN the block
    (operators/dedup.py::passjoin_candidate_pairs — exact recall for
    levenshtein <= 3 by the untouched-chunk pigeonhole), so its
    candidate volume is bounded-constant fan-out + genuinely-near-
    identical content, and the levenshtein verify reproduces the
    oracle's pair set exactly. The quadratic survives only in the
    DuckDB oracle, which runs at gate SFs only."""
    from etl_seattle_call_data_spark.operators import dedup

    p = load_table(spark, sf_dir, "part")
    names = p.select(
        "p_name", F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    ).distinct()
    cand = dedup.passjoin_candidate_pairs(
        names, string_col="p_name", k=3, block_cols=["blk"]
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        cand.filter(dist <= 3)
        .select("name_a", "name_b", dist.cast("int").alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Skew-resistant exact distinct (two-phase aggregation)


@register(
    "distinct_users_two_phase",
    "Exact COUNT(DISTINCT) written as the two-phase aggregation that "
    "survives key skew at 100 TB: phase 1 collapses (event_type, "
    "user_id) — partial-aggregated map-side, so a hot event_type "
    "arrives at the shuffle already deduplicated per mapper; phase 2 "
    "counts the collapsed pairs. No Expand operator, no single-reducer "
    "hot key carrying every distinct value.",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_distinct_users_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Latest-row-per-key WITHOUT a window sort (max_by / arg_max aggregation)


@register(
    "latest_order_maxby",
    "Latest order per customer via max_by aggregation instead of a "
    "row_number window: one hash aggregate with map-side partials — no "
    "per-partition SORT of the whole fact table, which is the window "
    "approach's hidden cost at 100 TB (sort spills dominate long before "
    "the shuffle does). The ordering tuple (o_orderdate, o_orderkey) is "
    "encoded as one collision-free BIGINT (epoch_seconds·10^9 + key, "
    "key < 10^9 at any plausible SF) because DuckDB's arg_max takes "
    "scalar ordering values; the same encoding runs on both engines.",
    """
    SELECT o_custkey,
           arg_max(o_orderkey,
                   (epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 1000000)
                     * 1000000000 + o_orderkey)
             AS last_orderkey,
           arg_max(o_orderpriority,
                   (epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 1000000)
                     * 1000000000 + o_orderkey)
             AS state,
           MAX(o_orderdate) AS updated_at
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_latest_order_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    seq = (
        F.unix_timestamp("o_orderdate").cast("long") * F.lit(1000000000).cast("long")
        + F.col("o_orderkey")
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", seq).alias("last_orderkey"),
        F.max_by("o_orderpriority", seq).alias("state"),
        F.max("o_orderdate").alias("updated_at"),
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics (what the salting/AQE knobs are tuned FROM)


@register(
    "skew_report_lineitem_orderkey",
    "Join-key skew report for lineitem.l_orderkey: the top-10 hottest "
    "keys with their row share, plus each key's multiple of a perfectly "
    "uniform key (share·n_keys in fixed-point) — the diagnostic that "
    "decides between plain shuffle, AQE skew-join, and explicit "
    "salting. One count aggregation + a 10-row TakeOrdered; the scalar "
    "totals ride along via a broadcast single-row cross join.",
    """
    WITH kc AS (SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY l_orderkey),
    tot AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys FROM kc)
    SELECT l_orderkey, CAST(c AS BIGINT) AS n_rows_key,
           CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE) AS row_share,
           CAST((c * n_keys * 1000000) // n_rows AS BIGINT) AS uniform_multiple_fp
    FROM kc CROSS JOIN tot
    ORDER BY c DESC, l_orderkey
    LIMIT 10
    """,
)
def q_skew_report_lineitem_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    tot = kc.agg(
        F.sum("c").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        kc.crossJoin(F.broadcast(tot))
        .select(
            "l_orderkey",
            F.col("c").cast("bigint").alias("n_rows_key"),
            (F.col("c").cast("double") / F.col("n_rows").cast("double")).alias(
                "row_share"
            ),
            F.expr("CAST((c * n_keys * 1000000) DIV n_rows AS BIGINT)").alias(
                "uniform_multiple_fp"
            ),
        )
        .orderBy(F.desc("n_rows_key"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Data-quality audit (constraint checks as one aggregated report)


@register(
    "dq_audit_orders_lineitem",
    "Warehouse data-quality gate as one report row: orphan lineitems "
    "(no parent order), orders with a dangling customer key, duplicate "
    "order keys, null-key rows, and the total row counts the rates are "
    "judged against. Built ENTIRELY from operators/dq.py's lazy scalar "
    "primitives — key-only anti-joins, a duplicate-key aggregate, and "
    "one multi-aggregate pass over orders — stitched with broadcast "
    "one-row joins into a single Catalyst plan: ONE Spark action "
    "materializes all six numbers (the round-3 version ran six driver-"
    "side jobs and scanned orders four times). Anti-join build sides "
    "are the pruned key sets — broadcastable at any SF.",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
         (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL))
        AS orphan_lineitems,
      (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
         (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
        AS dangling_customer_fk,
      (SELECT COUNT(*) FROM
         (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
        AS duplicate_orderkeys,
      (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS null_orderkeys,
      (SELECT COUNT(*) FROM orders) AS n_orders,
      (SELECT COUNT(*) FROM lineitem) AS n_lineitems
    """,
)
def q_dq_audit_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import dq

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    orphans = dq.fk_orphan_count(
        li, "l_orderkey", o.select(F.col("o_orderkey")), "o_orderkey",
        "orphan_lineitems",
    )
    dangling = dq.fk_orphan_count(
        o, "o_custkey", c.select(F.col("c_custkey")), "c_custkey",
        "dangling_customer_fk",
    )
    dupes = dq.duplicate_key_count(
        o, "o_orderkey", "duplicate_orderkeys", count_keys=True
    )
    o_stats = o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_orderkeys"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    li_stats = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitems"))
    return dq.scalar_join(orphans, dangling, dupes, o_stats, li_stats).select(
        "orphan_lineitems",
        "dangling_customer_fk",
        "duplicate_orderkeys",
        "null_orderkeys",
        "n_orders",
        "n_lineitems",
    )


# ---------------------------------------------------------------------------
# Ratio-to-report window (share-of-parent rollup)


@register(
    "nation_revenue_share",
    "Ratio-to-report: each nation's share of its REGION's revenue via a "
    "window SUM over the 25-row nation rollup — the share computation "
    "never touches fact-table granularity (aggregate first, window the "
    "tiny rollup). Revenue decimal-exact; the share is one double "
    "division of identical inputs.",
    """
    WITH nat AS (
      SELECT r_name AS region, n_name AS nation,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      GROUP BY r_name, n_name
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
             AS region_share
    FROM nat
    """,
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    nat = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(rev).alias("rev"))
    )
    share = F.col("rev").cast("double") / F.sum("rev").over(
        Window.partitionBy("region")
    ).cast("double")
    return nat.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        share.alias("region_share"),
    )


# ---------------------------------------------------------------------------
# Null-safe join semantics (<=> / IS NOT DISTINCT FROM)


@register(
    "null_safe_segment_join",
    "Null-safe equi-join: two halves of the event stream aggregate by a "
    "NULLABLE segment key (low-value events lose their segment — the "
    "missing-dimension model) and join with <=> so the NULL segments "
    "MATCH each other instead of silently dropping — the semantic gap "
    "between ON a=b (nulls never join) and IS NOT DISTINCT FROM that "
    "reconciliation pipelines hit constantly. Null-safe equality still "
    "plans as a hash join (the key is hashable); counts exact.",
    """
    WITH tagged AS (
      SELECT event_id,
             CASE WHEN value < 0.5 THEN NULL ELSE event_type END AS seg
      FROM events
    ),
    a AS (SELECT seg, COUNT(*) AS n_a FROM tagged WHERE event_id % 2 = 0 GROUP BY seg),
    b AS (SELECT seg, COUNT(*) AS n_b FROM tagged WHERE event_id % 2 = 1 GROUP BY seg)
    SELECT a.seg, CAST(a.n_a AS BIGINT) AS n_a, CAST(b.n_b AS BIGINT) AS n_b
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    """,
)
def q_null_safe_segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_id",
        F.when(F.col("value") < 0.5, F.lit(None)).otherwise(F.col("event_type")).alias("seg"),
    )
    a = (
        tagged.filter(F.col("event_id") % 2 == 0)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        tagged.filter(F.col("event_id") % 2 == 1)
        .groupBy(F.col("seg").alias("seg_b"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        a.join(b, a["seg"].eqNullSafe(b["seg_b"]))
        .select("seg", "n_a", "n_b")
    )


# ---------------------------------------------------------------------------
# The spark.sql surface (same engine, SQL text in, Catalyst out)


_SQL_SURFACE = """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
"""


@register(
    "sql_surface_pricing",
    "The engine's SQL face: this query is ONE ANSI string executed "
    "verbatim by BOTH engines — spark.sql() over the registered temp "
    "views and DuckDB over the same parquet — proving the SQL surface "
    "is first-class (same Catalyst plan, pushdown, and AQE as the "
    "DataFrame API; load_tables registers every test table as a view). "
    "The dialect-neutral subset used everywhere (CAST/DECIMAL/"
    "TIMESTAMP literals/CASE) is exactly what makes the oracle gate "
    "possible.",
    _SQL_SURFACE,
)
def q_sql_surface_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.sources.registry import load_tables

    load_tables(spark, sf_dir, names=("lineitem",))
    return spark.sql(_SQL_SURFACE)


# ---------------------------------------------------------------------------
# LATERAL correlated subquery in FROM (per-row dependent join)


_LATERAL_SQL = """
    SELECT c_custkey, c_acctbal, o_orderkey, o_orderdate
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_orderdate FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 2
    ) recent
"""


@register(
    "lateral_recent_orders",
    "LATERAL correlated subquery in FROM — each customer's two most "
    "recent orders via a per-row dependent subquery, the decorrelation "
    "shape window-rank can express but LATERAL states directly; one "
    "ANSI string runs verbatim on both engines (Catalyst decorrelates "
    "it to a ranked join — no per-row re-execution; the inner ORDER "
    "BY carries the unique key so the kept pair is total-ordered).",
    _LATERAL_SQL,
)
def q_lateral_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.sources.registry import load_tables

    load_tables(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL keep multiplicity)


@register(
    "set_ops_all_variants",
    "Bag-semantics set operations: customer keys of non-urgent orders "
    "EXCEPT ALL urgent ones (each urgent occurrence cancels ONE "
    "non-urgent occurrence — multiplicity arithmetic the DISTINCT "
    "variants destroy), summarized as per-key surviving multiplicity, "
    "plus the INTERSECT ALL cardinality as a cross-check column. "
    "Spark's exceptAll/intersectAll plan as aggregate+generate over "
    "count deltas — one shuffle each, no join explosion.",
    """
    WITH surv AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    inter AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT s.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS surplus_non_urgent,
           CAST((SELECT COUNT(*) FROM inter i WHERE i.o_custkey = s.o_custkey)
                AS BIGINT) AS n_matched
    FROM surv s
    GROUP BY s.o_custkey
    """,
)
def q_set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    non_urgent = o.filter(F.col("o_orderpriority") != "1-URGENT").select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    surv = non_urgent.exceptAll(urgent)
    inter = non_urgent.intersectAll(urgent).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    return (
        surv.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("surplus_non_urgent"))
        .join(inter, "o_custkey", "left")
        .select(
            "o_custkey",
            "surplus_non_urgent",
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("bigint").alias("n_matched"),
        )
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery in SELECT (per-row aggregate lookup)


_SCALAR_SUBQ_SQL = """
    SELECT o_orderkey, o_custkey, o_orderdate,
           COALESCE((SELECT MAX(l_shipdate) FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey),
                    TIMESTAMP '9999-12-31') AS last_ship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS n_lines
    FROM orders o
"""


@register(
    "scalar_subquery_enrichment",
    "Correlated scalar subqueries in the SELECT list — the per-row "
    "aggregate-lookup shape (each order's last ship date and line "
    "count). One ANSI string runs verbatim on both engines; Catalyst "
    "decorrelates both subqueries into left-outer aggregate joins over "
    "ONE shared lineitem aggregation (same correlation key → same "
    "subplan), so the fact table is scanned once, not per-row and not "
    "per-subquery. Orders with no lines surface the scalar-subquery "
    "NULL/0 contract: COUNT over empty is 0, and the empty MAX takes "
    "the 9999-12-31 sentinel (a NULL timestamp canonicalizes as NaT "
    "vs None across the engines — docs/CROSS_ENGINE.md rule 13).",
    _SCALAR_SUBQ_SQL,
)
def q_scalar_subquery_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.sources.registry import load_tables

    load_tables(spark, sf_dir, names=("orders", "lineitem"))
    return spark.sql(_SCALAR_SUBQ_SQL)


# ---------------------------------------------------------------------------
# Z-order layout + zone-map pruning evidence


def _morton(div: str) -> str:
    """8-bit×8-bit Morton interleave of columns x, y as pure integer
    arithmetic (bit i via (v {div} 2^i) % 2 — no engine-specific shift
    operators). ``div`` is 'DIV' for Spark, '//' for DuckDB."""
    return " + ".join(
        f"(((x {div} {2**i}) % 2) + 2 * ((y {div} {2**i}) % 2)) * {4**i}"
        for i in range(8)
    )


@register(
    "zorder_layout_stats",
    "Z-order (Morton curve) data layout vs single-dimension layout, "
    "judged by ZONE-MAP PRUNING: orders map to (x = custkey bucket, "
    "y = order-day bucket), files are 256 contiguous ranges of either "
    "the interleaved z-value or the day value, and each layout reports "
    "how many files a custkey-range predicate (x BETWEEN 16 AND 31) "
    "must scan given per-file min/max zone maps — the physical-design "
    "operator behind Delta/Iceberg OPTIMIZE ZORDER. The interleave is "
    "pure integer arithmetic (no engine shift ops), per-file stats are "
    "one groupBy per layout, and the verdict is a 2-row table: z-order "
    "prunes ~15/16 of files on the non-leading dimension, the day "
    "layout scans everything. Survives 100x: file stats are bounded "
    "(256 rows), the fact stream is one projection pass per layout.",
    f"""
    WITH xy AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  % 256 AS BIGINT) AS y
      FROM orders
    ),
    z AS (SELECT x, y, CAST({_morton("//")} AS BIGINT) AS zval FROM xy),
    files AS (
      SELECT 'zorder' AS layout, zval // 256 AS file_id,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM z GROUP BY zval // 256
      UNION ALL
      SELECT 'day_linear' AS layout, y AS file_id,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM z GROUP BY y
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN max_x >= 16 AND min_x <= 31 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_files_scanned,
           CAST(SUM(CASE WHEN max_x >= 16 AND min_x <= 31 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS scan_frac_fp
    FROM files
    GROUP BY layout
    """,
)
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    xy = o.select(
        (F.col("o_custkey") % 256).cast("bigint").alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 256
        ).cast("bigint").alias("y"),
    )
    z = xy.select("x", "y", F.expr(_morton("DIV")).cast("bigint").alias("zval"))
    zf = z.groupBy(F.expr("zval DIV 256").alias("file_id")).agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x")
    ).select(F.lit("zorder").alias("layout"), "min_x", "max_x")
    lf = z.groupBy(F.col("y").alias("file_id")).agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x")
    ).select(F.lit("day_linear").alias("layout"), "min_x", "max_x")
    files = zf.unionByName(lf)
    hit = F.when((F.col("max_x") >= 16) & (F.col("min_x") <= 31), 1).otherwise(0)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(hit).cast("bigint").alias("n_files_scanned"),
        F.expr(
            "CAST(SUM(CASE WHEN max_x >= 16 AND min_x <= 31 THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("scan_frac_fp"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers


@register(
    "k_anonymity_audit",
    "Privacy audit: k-anonymity of the customer table under the "
    "quasi-identifier (market segment, nation, account-balance "
    "thousand-bucket) — every release pipeline's pre-flight check. "
    "One groupBy builds the equivalence classes, one aggregate over "
    "the class table yields k (the minimum class size), the count of "
    "classes below k=5, and the rows re-identifiable at that "
    "threshold. Two shuffles total, class table bounded by the "
    "quasi-identifier domain, no row-level data leaves the executors.",
    """
    WITH q AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(floor(c_acctbal) AS BIGINT) // 1000 AS bal_bucket
      FROM customer
    ),
    cls AS (
      SELECT seg, nat, bal_bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY seg, nat, bal_bucket
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below_5,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM cls
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr("CAST(floor(c_acctbal) AS BIGINT) DIV 1000").alias("bal_bucket"),
    )
    cls = q.groupBy("seg", "nat", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cls.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("n").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_classes_below_5"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# Privacy: l-diversity (companion to k_anonymity_audit)
# ---------------------------------------------------------------------------


@register(
    "l_diversity_audit",
    "l-diversity audit: for every quasi-identifier group (mktsegment × "
    "nation) of customers with orders, the number of DISTINCT sensitive "
    "values (order priority) seen — groups with l < 3 are re-identification "
    "risks even when k-anonymity passes (homogeneity attack). One "
    "equi-join + one grouped COUNT(DISTINCT) shuffle; the output is "
    "bounded by |segments| × |nations| (25 × 5), not by rows — the audit "
    "report a 100 TB table produces is the same 125 rows.",
    """
    SELECT c_mktsegment, CAST(c_nationkey AS INTEGER) AS c_nationkey,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           COUNT(DISTINCT o_orderpriority) < 3 AS at_risk
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(
            F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .withColumn("at_risk", F.col("l_distinct") < 3)
    )


# ---------------------------------------------------------------------------
# Optimizer statistics: bucketed-histogram join-size estimation vs exact
# ---------------------------------------------------------------------------

_JSE_BUCKETS = 256


@register(
    "join_size_estimate_eval",
    "Optimizer-statistics eval: estimate the lineitem self-join size on "
    "l_partkey from a 256-bucket degree histogram (per bucket: Σdeg and "
    "distinct keys; uniform-within-bucket estimate Σ_b S_b² DIV k_b) and "
    "measure it against the exact Σ_k deg(k)². This is the statistic a "
    "cost-based planner keeps per join column — the histogram is "
    "256 rows however large the table, built in one grouped-agg pass "
    "over the per-key degree table; exact and estimate are compared in "
    "fixed point. Also a skew diagnostic: estimate ≪ exact means the "
    "degree distribution is heavy-tailed inside buckets.",
    f"""
    WITH deg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
      FROM lineitem GROUP BY l_partkey
    ),
    ex AS (SELECT CAST(SUM(d * d) AS BIGINT) AS exact_size FROM deg),
    hist AS (
      SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
               % {_JSE_BUCKETS} AS b,
             CAST(SUM(d) AS BIGINT) AS s_b,
             CAST(COUNT(*) AS BIGINT) AS k_b
      FROM deg GROUP BY 1
    ),
    est AS (SELECT CAST(SUM(s_b * s_b // k_b) AS BIGINT) AS est_size FROM hist)
    SELECT exact_size, est_size,
           CAST((est_size - exact_size) * 1000000 // exact_size AS BIGINT)
             AS rel_error_fp
    FROM ex CROSS JOIN est
    """,
)
def q_join_size_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ex = deg.agg(F.sum(F.col("d") * F.col("d")).cast("bigint").alias("exact_size"))
    hist = deg.groupBy(
        (hash_bucket("l_partkey", _JSE_BUCKETS)).alias("b")
    ).agg(
        F.sum("d").cast("bigint").alias("s_b"),
        F.count(F.lit(1)).cast("bigint").alias("k_b"),
    )
    est = hist.agg(
        F.sum(F.expr("s_b * s_b DIV k_b")).cast("bigint").alias("est_size")
    )
    return (
        dq.scalar_join(ex, est)  # two 1-row aggregates, broadcast NLJ
        .select(
            "exact_size",
            "est_size",
            F.expr("CAST((est_size - exact_size) * 1000000 DIV exact_size AS BIGINT)")
            .alias("rel_error_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier): cheapest-yet-latest orders
# ---------------------------------------------------------------------------

_SKY_BUCKET_CENTS = 1_000_000  # $10k coarse price buckets


@register(
    "skyline_pareto_orders",
    "Skyline / Pareto-frontier query: orders not strictly dominated on "
    "(price ↓, order date ↑) — an order survives iff no strictly "
    "cheaper order has a strictly later date. Computed WITHOUT the "
    "O(n²) dominance self-join: prefix-max of date over price order, "
    "two-phase like operators/ranking.py — per-$10k-bucket max dates "
    "(bounded bucket table, window over it is the documented "
    "bounded-window contract), then an in-bucket running max over "
    "distinct prices, then one equi-join back. No stage sorts more "
    "than one price bucket; the bucket width is the skew knob.",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
             epoch_us(o_orderdate) AS d
      FROM orders
    ),
    pg AS (SELECT pc, MAX(d) AS pm FROM o GROUP BY pc),
    rg AS (
      SELECT pc,
             MAX(pm) OVER (ORDER BY pc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS thr
      FROM pg
    )
    SELECT o.o_orderkey, orders.o_totalprice, orders.o_orderdate
    FROM o JOIN rg USING (pc)
           JOIN orders ON orders.o_orderkey = o.o_orderkey
    WHERE o.d >= COALESCE(rg.thr, -1)
    """,
)
def q_skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("pc"),
        F.unix_micros(F.col("o_orderdate")).alias("d"),
    )
    # phase 1: per distinct price max date, coarse-bucketed
    pg = o.groupBy("pc").agg(F.max("d").alias("pm"))
    pg = pg.withColumn("bkt", F.expr(f"pc DIV {_SKY_BUCKET_CENTS}"))
    # bounded bucket table: price-range / $10k buckets
    bt = pg.groupBy("bkt").agg(F.max("pm").alias("bmax"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bt = bt.select("bkt", F.max("bmax").over(wb).alias("boff"))
    # phase 2: running max over distinct prices INSIDE each bucket
    wi = Window.partitionBy("bkt").orderBy("pc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rg = (
        pg.join(F.broadcast(bt), "bkt")
        .select(
            "pc",
            F.greatest(
                F.coalesce(F.max("pm").over(wi), F.lit(-1)),
                F.coalesce(F.col("boff"), F.lit(-1)),
            ).alias("thr"),
        )
    )
    return (
        o.join(rg, "pc")
        .filter(F.col("d") >= F.col("thr"))
        .join(orders, "o_orderkey")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Column value-distribution profiling (mode, min-entropy) via unpivot
# ---------------------------------------------------------------------------


@register(
    "profile_column_distributions",
    "Value-distribution profile per categorical column (status, "
    "priority, order month): exact distinct count, deterministic mode "
    "(highest count, ties broken by MAX value — no composite arg_max, "
    "rule 23), mode frequency, and min-entropy −log2(p_max) in whole "
    "bits via the log-free length(bin(n DIV mode_n))−1 idiom "
    "(zipf_bitlength precedent). The complement to profile_orders' "
    "null/min-max scan: this is the skew/anonymity side of profiling. "
    "One unpivoted scan → one grouped count per (col, value) — value "
    "cardinality-sized, not row-sized — then a |cols|-row rollup.",
    """
    WITH u AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_month', CAST(month(o_orderdate) AS VARCHAR) FROM orders
    ),
    vc AS (
      SELECT col, val, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY col, val
    ),
    agg AS (
      SELECT col, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS mode_n
      FROM vc GROUP BY col
    )
    SELECT agg.col, agg.n_distinct,
           MAX(CASE WHEN vc.cnt = agg.mode_n THEN vc.val END) AS mode_val,
           agg.mode_n,
           CAST(length(bin(agg.n_rows // agg.mode_n)) - 1 AS INTEGER)
             AS min_entropy_bits
    FROM agg JOIN vc ON agg.col = vc.col
    GROUP BY agg.col, agg.n_distinct, agg.mode_n, agg.n_rows
    """,
)
def q_profile_column_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    u = o.selectExpr(
        "stack(3, 'o_orderstatus', o_orderstatus,"
        " 'o_orderpriority', o_orderpriority,"
        " 'o_month', CAST(month(o_orderdate) AS STRING)) AS (col, val)"
    )
    vc = u.groupBy("col", "val").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    agg = vc.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("mode_n"),
    )
    return (
        agg.join(vc, "col")
        .groupBy("col", "n_distinct", "mode_n", "n_rows")
        .agg(
            F.max(F.when(F.col("cnt") == F.col("mode_n"), F.col("val"))).alias(
                "mode_val"
            )
        )
        .select(
            "col",
            "n_distinct",
            "mode_val",
            "mode_n",
            (F.length(F.bin(F.expr("n_rows DIV mode_n"))) - 1)
            .cast("int")
            .alias("min_entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery (g3 violation measure)
# ---------------------------------------------------------------------------


@register(
    "functional_dependency_check",
    "Approximate functional-dependency discovery: for each candidate "
    "X→Y the number of determinant groups, the groups where Y is not "
    "unique, and the g3 measure (minimum rows to delete for the FD to "
    "hold = Σ_X (group size − mode Y count) — Kivinen & Mannila's "
    "standard approximation metric). Each candidate is one grouped "
    "count on (X, Y) — value-pair-sized — rolled up to one row; the "
    "profiler that tells a schema designer which constraints the data "
    "actually supports before they bet a 100 TB layout on them.",
    """
    WITH c1 AS (
      SELECT p_brand AS x, p_type AS y FROM part
    ), c2 AS (
      SELECT p_type AS x, p_brand AS y FROM part
    ), c3 AS (
      SELECT CAST(l_partkey AS VARCHAR) AS x, CAST(l_suppkey AS VARCHAR) AS y
      FROM lineitem
    ), c4 AS (
      SELECT CAST(o_orderdate AS VARCHAR) AS x, o_orderpriority AS y FROM orders
    ),
    u AS (
      SELECT 'p_brand->p_type' AS fd, x, y FROM c1
      UNION ALL SELECT 'p_type->p_brand', x, y FROM c2
      UNION ALL SELECT 'l_partkey->l_suppkey', x, y FROM c3
      UNION ALL SELECT 'o_orderdate->o_orderpriority', x, y FROM c4
    ),
    xy AS (
      SELECT fd, x, y, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY fd, x, y
    ),
    gx AS (
      SELECT fd, x, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(MAX(cnt) AS BIGINT) AS mode_cnt,
             CAST(COUNT(*) AS BIGINT) AS n_y
      FROM xy GROUP BY fd, x
    )
    SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(total - mode_cnt) AS BIGINT) AS g3_rows
    FROM gx GROUP BY fd
    """,
)
def q_functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cands = [
        ("p_brand->p_type", part.select(F.col("p_brand").alias("x"), F.col("p_type").alias("y"))),
        ("p_type->p_brand", part.select(F.col("p_type").alias("x"), F.col("p_brand").alias("y"))),
        (
            "l_partkey->l_suppkey",
            li.select(
                F.col("l_partkey").cast("string").alias("x"),
                F.col("l_suppkey").cast("string").alias("y"),
            ),
        ),
        (
            "o_orderdate->o_orderpriority",
            o.select(
                F.col("o_orderdate").cast("string").alias("x"),
                F.col("o_orderpriority").alias("y"),
            ),
        ),
    ]
    u = None
    for fd, df in cands:
        tagged = df.select(F.lit(fd).alias("fd"), "x", "y")
        u = tagged if u is None else u.unionByName(tagged)
    xy = u.groupBy("fd", "x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    gx = xy.groupBy("fd", "x").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.max("cnt").cast("bigint").alias("mode_cnt"),
        F.count(F.lit(1)).cast("bigint").alias("n_y"),
    )
    return gx.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(F.col("total") - F.col("mode_cnt")).cast("bigint").alias("g3_rows"),
    )


# ---------------------------------------------------------------------------
# t-closeness privacy audit (ordered EMD)
# ---------------------------------------------------------------------------


@register(
    "t_closeness_audit",
    "t-closeness audit completing the k-anonymity / l-diversity triad: "
    "per quasi-identifier group (mktsegment x nation), the Earth "
    "Mover's Distance between the group's ordered sensitive-attribute "
    "distribution (order priority, 5 ordinal levels) and the global "
    "one — EMD over an ordered axis is the mean absolute ECDF gap, "
    "exact in integers via the common denominator n_g*N: t_ppm = "
    "sum_i |cum_g_i*N - cum_i*n_g| * 1e6 DIV ((levels-1)*n_g*N). One "
    "fact join + one (group, level) agg; the cumulative window runs "
    "over the BOUNDED (groups x 5) table and the 5-row global "
    "distribution broadcasts. Groups with t > 0.2 are flagged "
    "(skewness attack risk).",
    """
    WITH fact AS (
      SELECT c_mktsegment AS seg, CAST(c_nationkey AS INTEGER) AS nat,
             o_orderpriority AS pr
      FROM customer JOIN orders ON o_custkey = c_custkey
    ),
    gl AS (
      SELECT pr, CAST(COUNT(*) AS BIGINT) AS n FROM fact GROUP BY pr
    ),
    glc AS (
      SELECT pr,
             CAST(SUM(n) OVER (ORDER BY pr ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg,
             CAST(SUM(n) OVER () AS BIGINT) AS ntot
      FROM gl
    ),
    grp AS (
      SELECT seg, nat, pr, CAST(COUNT(*) AS BIGINT) AS n
      FROM fact GROUP BY seg, nat, pr
    ),
    grpc AS (
      SELECT seg, nat, pr,
             CAST(SUM(n) OVER (PARTITION BY seg, nat ORDER BY pr
                               ROWS BETWEEN UNBOUNDED PRECEDING AND
                               CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(n) OVER (PARTITION BY seg, nat) AS BIGINT) AS ng
      FROM grp
    )
    SELECT g.seg AS c_mktsegment, g.nat AS c_nationkey,
           CAST(MAX(g.ng) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN g.pr < '5' THEN
                    abs(g.cum * c.ntot - c.cumg * g.ng) ELSE 0 END)
                * 1000000 // (4 * MAX(g.ng) * MAX(c.ntot)) AS BIGINT)
             AS t_ppm,
           SUM(CASE WHEN g.pr < '5' THEN
               abs(g.cum * c.ntot - c.cumg * g.ng) ELSE 0 END)
             * 1000000 // (4 * MAX(g.ng) * MAX(c.ntot)) > 200000 AS at_risk
    FROM grpc g JOIN glc c ON c.pr = g.pr
    GROUP BY g.seg, g.nat
    """,
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    fact = c.join(o, c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("int").alias("nat"),
        F.col("o_orderpriority").alias("pr"),
    )
    gl = fact.groupBy("pr").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wg = Window.orderBy("pr").rowsBetween(Window.unboundedPreceding, 0)
    glc = gl.select(
        "pr",
        F.sum("n").over(wg).cast("bigint").alias("cumg"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("ntot"),
    )
    grp = fact.groupBy("seg", "nat", "pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wgrp = (
        Window.partitionBy("seg", "nat")
        .orderBy("pr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grpc = grp.select(
        "seg",
        "nat",
        "pr",
        F.sum("n").over(wgrp).cast("bigint").alias("cum"),
        F.sum("n").over(Window.partitionBy("seg", "nat")).cast("bigint").alias("ng"),
    )
    joined = grpc.join(F.broadcast(glc), "pr")
    gap = F.when(
        F.col("pr") < "5", F.abs(F.col("cum") * F.col("ntot") - F.col("cumg") * F.col("ng"))
    ).otherwise(F.lit(0))
    agg = joined.groupBy(
        F.col("seg").alias("c_mktsegment"), F.col("nat").alias("c_nationkey")
    ).agg(
        F.max("ng").cast("bigint").alias("n_rows"),
        F.sum(gap).alias("gapsum"),
        F.max("ntot").alias("ntot"),
    )
    return agg.selectExpr(
        "c_mktsegment",
        "c_nationkey",
        "n_rows",
        "CAST(gapsum * 1000000 DIV (4 * n_rows * ntot) AS BIGINT) AS t_ppm",
        "gapsum * 1000000 DIV (4 * n_rows * ntot) > 200000 AS at_risk",
    )


# ---------------------------------------------------------------------------
# Candidate-key discovery profile
# ---------------------------------------------------------------------------

# (table, label, per-engine key-string expressions). Timestamps enter the
# key via epoch micros — VARCHAR casts of temporals differ per engine.
_KEY_COMBOS: list[tuple[str, str, str, str]] = [
    (
        "lineitem",
        "l_orderkey",
        "CAST(l_orderkey AS STRING)",
        "CAST(l_orderkey AS VARCHAR)",
    ),
    (
        "lineitem",
        "l_orderkey+l_linenumber",
        "CAST(l_orderkey AS STRING) || '#' || CAST(l_linenumber AS STRING)",
        "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)",
    ),
    (
        "lineitem",
        "l_partkey+l_suppkey",
        "CAST(l_partkey AS STRING) || '#' || CAST(l_suppkey AS STRING)",
        "CAST(l_partkey AS VARCHAR) || '#' || CAST(l_suppkey AS VARCHAR)",
    ),
    (
        "orders",
        "o_orderkey",
        "CAST(o_orderkey AS STRING)",
        "CAST(o_orderkey AS VARCHAR)",
    ),
    (
        "orders",
        "o_custkey+o_orderdate",
        "CAST(o_custkey AS STRING) || '#' || CAST(unix_micros(o_orderdate) AS STRING)",
        "CAST(o_custkey AS VARCHAR) || '#' || CAST(epoch_us(o_orderdate) AS VARCHAR)",
    ),
    (
        "events",
        "user_id+ts",
        "CAST(user_id AS STRING) || '#' || CAST(unix_micros(ts) AS STRING)",
        "CAST(user_id AS VARCHAR) || '#' || CAST(epoch_us(ts) AS VARCHAR)",
    ),
]


@register(
    "candidate_key_profile",
    "Candidate-key discovery over a fixed combo catalog: for each "
    "(table, column-set) pair, row count vs distinct-key count, the "
    "uniqueness ratio in ppm, and the is-key verdict — the profiling "
    "pass schema inference and MERGE-key validation both start from. "
    "Key tuples become '#'-joined strings (temporals via epoch "
    "micros, since VARCHAR casts of timestamps differ per engine); "
    "each combo is one two-phase distinct-count aggregate (partial "
    "map-side distinct, one shuffle on the key hash), unioned into a "
    "6-row report. Scale: combos are evaluated independently — at "
    "100 TB each is exactly the cost of its own count-distinct, and "
    "the catalog is explicit, not a combinatorial explosion.",
    "\n    UNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS tbl, '{label}' AS key_cols,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {duck}) AS BIGINT) AS n_distinct,
           CAST((COUNT(DISTINCT {duck}) * 1000000) // COUNT(*) AS BIGINT)
             AS uniqueness_ppm,
           COUNT(DISTINCT {duck}) = COUNT(*) AS is_unique_key
    FROM {tbl}"""
        for tbl, label, _, duck in _KEY_COMBOS
    ),
)
def q_candidate_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, label, spark_expr, _ in _KEY_COMBOS:
        df = load_table(spark, sf_dir, tbl)
        agg = df.select(F.expr(spark_expr).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("k").cast("bigint").alias("n_distinct"),
        )
        row = agg.select(
            F.lit(tbl).alias("tbl"),
            F.lit(label).alias("key_cols"),
            "n_rows",
            "n_distinct",
            F.expr("CAST((n_distinct * 1000000) DIV n_rows AS BIGINT)").alias(
                "uniqueness_ppm"
            ),
            (F.col("n_distinct") == F.col("n_rows")).alias("is_unique_key"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Delta-encoding layout savings
# ---------------------------------------------------------------------------


@register(
    "delta_encoding_stats",
    "Storage-layout evidence: how many bits per timestamp a delta "
    "encoding would save if the event stream were laid out sorted by "
    "(user, time) — per event type, the mean bit-width of raw epoch-"
    "micro values vs successive per-user deltas, and the savings in "
    "ppm. Bit-width is length(bin(v)) — exact integer rendering on "
    "both engines (the zipf-profile idiom), no logs. This is the "
    "measurement behind choosing DELTA_BINARY_PACKED over PLAIN for "
    "parquet timestamp columns. One per-user window pass (lag), one "
    "5-row aggregate; deltas are non-negative by construction of the "
    "ordering.",
    """
    WITH e AS (
      SELECT event_type, user_id, event_id, epoch_us(ts) AS tu
      FROM events
    ),
    d AS (
      SELECT event_type,
             length(bin(tu)) AS raw_bits,
             length(bin(tu - lag(tu) OVER (PARTITION BY user_id
                                           ORDER BY tu, event_id))) AS delta_bits
      FROM e
    )
    SELECT event_type,
           CAST(COUNT(delta_bits) AS BIGINT) AS n_deltas,
           CAST(SUM(CASE WHEN delta_bits IS NOT NULL THEN raw_bits END)
                AS DOUBLE) / CAST(COUNT(delta_bits) AS DOUBLE) AS avg_raw_bits,
           CAST(SUM(delta_bits) AS DOUBLE) / CAST(COUNT(delta_bits) AS DOUBLE)
             AS avg_delta_bits,
           CAST((SUM(CASE WHEN delta_bits IS NOT NULL THEN raw_bits END)
                 - SUM(delta_bits)) * 1000000
                // SUM(CASE WHEN delta_bits IS NOT NULL THEN raw_bits END)
                AS BIGINT) AS savings_ppm
    FROM d
    GROUP BY event_type
    """,
)
def q_delta_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "user_id", "event_id", F.unix_micros("ts").alias("tu")
    )
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    d = e.select(
        "event_type",
        F.length(F.bin(F.col("tu"))).alias("raw_bits"),
        F.length(F.bin(F.col("tu") - F.lag("tu").over(wu))).alias("delta_bits"),
    )
    return d.groupBy("event_type").agg(
        F.count("delta_bits").cast("bigint").alias("n_deltas"),
        (
            F.sum(F.when(F.col("delta_bits").isNotNull(), F.col("raw_bits"))).cast(
                "double"
            )
            / F.count("delta_bits").cast("double")
        ).alias("avg_raw_bits"),
        (F.sum("delta_bits").cast("double") / F.count("delta_bits").cast("double")).alias(
            "avg_delta_bits"
        ),
        F.expr(
            "CAST((SUM(CASE WHEN delta_bits IS NOT NULL THEN raw_bits END)"
            " - SUM(delta_bits)) * 1000000"
            " DIV SUM(CASE WHEN delta_bits IS NOT NULL THEN raw_bits END)"
            " AS BIGINT)"
        ).alias("savings_ppm"),
    )


# ---------------------------------------------------------------------------
# k-threshold suppression release
# ---------------------------------------------------------------------------


@register(
    "k_threshold_suppression_release",
    "Privacy-preserving release with k-threshold suppression: the "
    "(market segment, nation) customer census is published only for "
    "cells of size >= 20; smaller cells collapse into one OTHER row "
    "(count preserved, identity suppressed) — the enforcement "
    "mechanism the k-anonymity AUDIT family measures, completing "
    "audit -> release. The OTHER row is always emitted (zero when "
    "nothing suppresses) so the release schema is stable across "
    "scale factors — the emptiness-at-small-SF trap made structural. "
    "One groupBy + a bounded conditional aggregate.",
    """
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, n.n_name AS nation,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY c.c_mktsegment, n.n_name
    ),
    released AS (
      SELECT seg, nation, n_customers FROM cells WHERE n_customers >= 20
    ),
    suppressed AS (
      SELECT 'OTHER' AS seg, 'OTHER' AS nation,
             CAST(COALESCE(SUM(CASE WHEN n_customers < 20
                                    THEN n_customers END), 0) AS BIGINT)
               AS n_customers
      FROM cells
    )
    SELECT seg, nation, n_customers FROM released
    UNION ALL
    SELECT seg, nation, n_customers FROM suppressed
    """,
)
def q_k_threshold_suppression_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )
    released = cells.filter(F.col("n_customers") >= 20)
    suppressed = cells.agg(
        F.coalesce(
            F.sum(F.when(F.col("n_customers") < 20, F.col("n_customers"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_customers")
    ).select(F.lit("OTHER").alias("seg"), F.lit("OTHER").alias("nation"), "n_customers")
    return released.unionByName(suppressed)


# ---------------------------------------------------------------------------
# Inclusion-dependency (foreign-key candidate) profiling
# ---------------------------------------------------------------------------

_IND_PAIRS: list[tuple[str, str, str, str, str]] = [
    ("orders.o_custkey<customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey<part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey<supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem.l_orderkey<orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("events.user_id<customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
    ("customer.c_custkey<orders.o_custkey", "customer", "c_custkey", "orders", "o_custkey"),
]


def _ind_pair_sql(label: str, ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT '{label}' AS dependency,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contained,
           CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS containment_ppm,
           SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) = COUNT(*)
             AS full_inclusion
    FROM (SELECT DISTINCT {cc} AS k FROM {ct}) c
    LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) p ON p.k = c.k
    """


@register(
    "inclusion_dependency_profile",
    "Inclusion-dependency discovery (Binder/SPIDER-style FK "
    "profiling) over a fixed candidate list of column pairs: for "
    "each child->parent pair, the distinct child key count, how many "
    "of those appear in the parent, containment in truncated ppm, "
    "and a full-inclusion verdict — the profiling primitive that "
    "finds joinable keys and orphaned references before anyone "
    "writes a join. Each pair is a distinct-project + left join on "
    "the key (the parent side prunes to its key column and "
    "broadcasts when dim-sized); the 6 one-row results union. "
    "Includes a deliberately partial reverse pair "
    "(customer->orders: dormant customers) so the partial path is "
    "exercised at every SF.",
    "\nUNION ALL\n".join(_ind_pair_sql(*p) for p in _IND_PAIRS),
)
def q_inclusion_dependency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out: DataFrame | None = None
    for label, ct, cc, pt, pc in _IND_PAIRS:
        child = load_table(spark, sf_dir, ct).select(F.col(cc).alias("k")).distinct()
        parent = (
            load_table(spark, sf_dir, pt).select(F.col(pc).alias("k")).distinct()
        )
        hit = F.sum(
            F.when(F.col("pk").isNotNull(), 1).otherwise(0)
        )
        row = (
            child.join(parent.select(F.col("k").alias("pk")), child.k == F.col("pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                hit.cast("bigint").alias("n_contained"),
                F.expr(
                    "CAST(SUM(CASE WHEN pk IS NOT NULL THEN 1 ELSE 0 END)"
                    " * 1000000 DIV COUNT(*) AS BIGINT)"
                ).alias("containment_ppm"),
                (
                    F.sum(F.when(F.col("pk").isNotNull(), 1).otherwise(0))
                    == F.count(F.lit(1))
                ).alias("full_inclusion"),
            )
            .select(
                F.lit(label).alias("dependency"),
                "n_child",
                "n_contained",
                "containment_ppm",
                "full_inclusion",
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# Semi-additive month-end balance rollup
# ---------------------------------------------------------------------------


@register(
    "semi_additive_balance_monthly",
    "Semi-additive measure rollup — the balance-sheet aggregation "
    "pattern (SUM across accounts, LAST VALUE across time): monthly "
    "cumulative customer spend treated as an account balance, "
    "rolled to (month) grain with total book balance, customers "
    "active that month, and customers carrying a balance forward "
    "with no activity. Because a balance is a running sum of flows, "
    "the carry-forward collapses algebraically: total balance = "
    "running sum of monthly flows, carried = started-to-date minus "
    "active — no customer x month grid materializes (the naive "
    "LOCF grid is O(customers x months); this is O(months) after "
    "two grouped aggregates). Exact BIGINT cents; rule-19 integer "
    "year/month keys; windows over the ~80-row month table.",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) AS INTEGER) * 100
               + CAST(month(o_orderdate) AS INTEGER) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    monthly AS (
      SELECT ym, SUM(cents) AS flow_cents,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
      FROM o GROUP BY ym
    ),
    firsts AS (
      SELECT MIN(ym) AS first_ym FROM o GROUP BY o_custkey
    ),
    starts AS (
      SELECT first_ym AS ym, CAST(COUNT(*) AS BIGINT) AS n_started
      FROM firsts GROUP BY first_ym
    )
    SELECT m.ym,
           CAST(SUM(m.flow_cents) OVER (ORDER BY m.ym
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0 AS total_balance,
           m.n_active,
           CAST(SUM(COALESCE(s.n_started, 0)) OVER (ORDER BY m.ym
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - m.n_active AS BIGINT) AS n_carried
    FROM monthly m LEFT JOIN starts s ON s.ym = m.ym
    """,
)
def q_semi_additive_balance_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate").cast("int") * 100
            + F.month("o_orderdate").cast("int")
        ).alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    monthly = o.groupBy("ym").agg(
        F.sum("cents").alias("flow_cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
    )
    starts = (
        o.groupBy("o_custkey")
        .agg(F.min("ym").alias("ym"))
        .groupBy("ym")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_started"))
    )
    # horizon-bounded (~80 months) single-partition window
    wm = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, 0)
    j = monthly.join(starts, "ym", "left")
    return j.select(
        "ym",
        (F.sum("flow_cents").over(wm).cast("double") / 100.0).alias(
            "total_balance"
        ),
        "n_active",
        (
            F.sum(F.coalesce(F.col("n_started"), F.lit(0))).over(wm)
            - F.col("n_active")
        )
        .cast("bigint")
        .alias("n_carried"),
    )


# ---------------------------------------------------------------------------
# Keyset pagination (page 3 of the order ledger)
# ---------------------------------------------------------------------------

_KP_PAGE_SIZE = 10


@register(
    "keyset_pagination_page3",
    "Keyset (seek) pagination — page 3 of orders sorted by "
    "(totalprice DESC, orderkey): the Spark plan finds the page-2 "
    "boundary row WITHOUT a global skip (TakeOrdered 20 -> "
    "row_number over that bounded frame -> 1-row boundary broadcast) "
    "and then fetches WHERE (price < bp) OR (price = bp AND key > "
    "bk) ORDER BY ... LIMIT 10 — the predicate pushes into the "
    "scan, so page N costs the same as page 1 where OFFSET N*k "
    "re-sorts and discards N*k rows (the oracle uses the OFFSET "
    "form deliberately: same rows, engine-local sort, contrasting "
    "plans). Unique orderkey tie-break makes every page a total "
    "order (rule 20).",
    f"""
    SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    ORDER BY round(o_totalprice * 100) DESC, o_orderkey
    LIMIT {_KP_PAGE_SIZE} OFFSET {2 * _KP_PAGE_SIZE}
    """,
)
def q_keyset_pagination_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    order = [F.col("cents").desc(), F.col("o_orderkey")]
    top2pages = o.orderBy(*order).limit(2 * _KP_PAGE_SIZE)
    boundary = (
        top2pages.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        )
        .filter(F.col("rn") == 2 * _KP_PAGE_SIZE)
        .select(F.col("cents").alias("bp"), F.col("o_orderkey").alias("bk"))
    )
    page = (
        dq.scalar_join(o, boundary)
        .filter(
            (F.col("cents") < F.col("bp"))
            | ((F.col("cents") == F.col("bp")) & (F.col("o_orderkey") > F.col("bk")))
        )
        .orderBy(*order)
        .limit(_KP_PAGE_SIZE)
    )
    return page.select("o_orderkey", "cents")


# ---------------------------------------------------------------------------
# File-compaction plan over the documents corpus
# ---------------------------------------------------------------------------

_FC_TARGET = 65536  # chars per output file


@register(
    "file_compaction_plan",
    "Small-files compaction plan per corpus source: docs are laid out "
    "in doc_id order and assigned to output files of ~64 KiB of text "
    "by exclusive running chars DIV target — the deterministic "
    "bin-packing every lakehouse OPTIMIZE job runs. The Spark plan "
    "uses two_phase_cumsum_in_groups (operators/ranking.py): "
    "per-(source, coarse-bucket) partial sums roll into offsets over "
    "the bounded bucket table, so NO source ever serializes through "
    "one task — the property that makes the plan survive a 100 TB "
    "corpus where a plain per-source running-sum window would bottom "
    "out on the largest source. Oracle uses the straightforward "
    "window spelling; all arithmetic is exact BIGINT.",
    f"""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prior
      FROM documents
    )
    SELECT source,
           prior // {_FC_TARGET} AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c
    GROUP BY source, prior // {_FC_TARGET}
    """,
)
def q_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    cum = two_phase_cumsum_in_groups(
        docs,
        group_cols=["source"],
        order_by=["doc_id"],
        coarse=F.expr("doc_id DIV 256"),  # order-aligned with doc_id
        weight=F.col("n_chars"),
        cum_name="__cum",
    )
    return (
        cum.withColumn(
            "file_id", F.expr(f"CAST(__cum - n_chars AS BIGINT) DIV {_FC_TARGET}")
        )
        .groupBy("source", "file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Sort-key RLE advisor: value runs under candidate orderings
# ---------------------------------------------------------------------------

_RLE_COLS = ("l_returnflag", "l_linestatus", "ship_day", "l_partkey")


def _rle_spark(
    df: DataFrame, ordering: str, bucket_expr: str, keys: list
) -> DataFrame:
    """Exact run count per column under a total order, two-phase:
    within-bucket LAG windows (bucket = coarse prefix of the leading
    sort key, so no fact-scale global window) + a bounded per-bucket
    firsts/lasts junction table for the cross-bucket boundaries."""
    wb = Window.partitionBy("__b").orderBy(*keys)
    within = df.withColumn("__b", F.expr(bucket_expr))
    aggs = []
    for c in _RLE_COLS:
        within = within.withColumn(
            f"__chg_{c}",
            F.when(
                F.lag(c).over(wb).isNull()
                | (F.col(c) == F.lag(c).over(wb)),
                0,
            ).otherwise(1),
        )
        aggs.append(F.sum(f"__chg_{c}").cast("bigint").alias(f"w_{c}"))
    per_bucket = within.groupBy("__b").agg(
        *aggs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            F.min_by(F.col(c), F.struct(*keys)).alias(f"first_{c}")
            for c in _RLE_COLS
        ],
        *[
            F.max_by(F.col(c), F.struct(*keys)).alias(f"last_{c}")
            for c in _RLE_COLS
        ],
    )
    wo = Window.orderBy("__b")  # bounded bucket table
    junction = per_bucket.select(
        "__b",
        "n_rows",
        *[F.col(f"w_{c}") for c in _RLE_COLS],
        *[
            F.when(
                F.lag(f"last_{c}").over(wo).isNull()
                | (F.lag(f"last_{c}").over(wo) == F.col(f"first_{c}")),
                0,
            )
            .otherwise(1)
            .alias(f"j_{c}")
            for c in _RLE_COLS
        ],
    )
    total = junction.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        *[
            (F.sum(f"w_{c}") + F.sum(f"j_{c}") + 1)
            .cast("bigint")
            .alias(f"runs_{c}")
            for c in _RLE_COLS
        ],
    )
    stacked = total.selectExpr(
        "stack({k}, {args}) AS (col_name, n_runs)".format(
            k=len(_RLE_COLS),
            args=", ".join(f"'{c}', runs_{c}" for c in _RLE_COLS),
        ),
        "n_rows",
    )
    return stacked.select(
        F.lit(ordering).alias("ordering"),
        "col_name",
        "n_runs",
        "n_rows",
        F.expr("n_runs * 1000000 DIV n_rows").alias("runs_ppm"),
    )


def _rle_oracle() -> str:
    """One statement covering both orderings: per ordering, LAG over
    the engine-local global sort, per-column change counts + 1."""
    parts = []
    for tag, order_by in (
        ("by_ship_day", "ship_day, l_orderkey, l_linenumber"),
        ("by_partkey", "l_partkey, l_orderkey, l_linenumber"),
    ):
        lags = ", ".join(
            f"LAG({c}) OVER (ORDER BY {order_by}) AS prev_{c}"
            for c in _RLE_COLS
        )
        changes = ", ".join(
            f"CAST(SUM(CASE WHEN prev_{c} IS NOT NULL AND prev_{c} <> {c}"
            f" THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs_{c}"
            for c in _RLE_COLS
        )
        parts.append(
            (
                f"lag_{tag} AS (SELECT *, {lags} FROM base),\n"
                f"t_{tag} AS (SELECT {changes},"
                f" CAST(COUNT(*) AS BIGINT) AS n_rows FROM lag_{tag})"
            )
        )
    unions = " UNION ALL ".join(
        f"SELECT '{tag}' AS ordering, '{c}' AS col_name,"
        f" runs_{c} AS n_runs, n_rows FROM t_{tag}"
        for tag in ("by_ship_day", "by_partkey")
        for c in _RLE_COLS
    )
    return f"""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             epoch_us(l_shipdate) // {_DAY} AS ship_day,
             l_partkey, l_orderkey, l_linenumber
      FROM lineitem
    ),
    {', '.join(parts)}
    SELECT ordering, col_name, n_runs, n_rows,
           n_runs * 1000000 // n_rows AS runs_ppm
    FROM ({unions})
    """


@register(
    "sortkey_rle_advisor",
    "Sort-key layout advisor: exact run-length run counts per column "
    "under two candidate orderings — (ship_day, orderkey, "
    "linenumber) vs (partkey, orderkey, linenumber) — runs_ppm is "
    "the direct predictor of RLE/dictionary-page compression and "
    "min-max pruning quality, the measurement behind choosing a "
    "table's sort key (zorder_layout_stats scores clustering; this "
    "prices each column's compressibility under each order). The "
    "Spark plan is the two-phase pattern: within-bucket LAG windows "
    "(bucket = the leading sort key's coarse prefix — no fact-scale "
    "global window) plus a BOUNDED per-bucket firsts/lasts junction "
    "table (calendar-bounded for ship_day; parts DIV 4096 for "
    "partkey — 3+ orders of magnitude below fact scale); the oracle "
    "computes the identical statistic with a plain global LAG, so "
    "the hash match IS the proof that the distributed run "
    "decomposition is exact. 8-row output.",
    _rle_oracle(),
)
def q_sortkey_rle_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.expr(f"unix_micros(l_shipdate) DIV {_DAY}").alias("ship_day"),
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
    )
    a = _rle_spark(
        li,
        "by_ship_day",
        "ship_day",
        ["ship_day", "l_orderkey", "l_linenumber"],
    )
    b = _rle_spark(
        li,
        "by_partkey",
        "l_partkey DIV 4096",
        ["l_partkey", "l_orderkey", "l_linenumber"],
    )
    return a.unionByName(b)
