"""TPC-H query shapes and commerce reporting over orders/lineitem/part/
supplier/customer/nation.

The Q1-Q22 decorrelation shapes expressible over the test tables,
plus the pricing, supply-chain and fulfillment reports built on the
same joins: price indices and dispersion, concentration and
cannibalization, lead-time and SLA reports, aging and inventory
segmentation.

The testdata has no ``partsupp`` table and ``lineitem`` carries no
``l_shipmode``/``l_commitdate``/``l_receiptdate``, so Q2/Q11/Q12/Q21 are
*adapted*: the shape (correlation structure, join graph, agg pattern) is
preserved while the filter columns come from what exists (supplier
acctbal for supplycost, quantity buckets for shipmode, ``l_returnflag =
'R'`` as the late-delivery marker). Each docstring states the mapping.

Cross-engine rules from plans/queries.py apply: decimal-exact sums cast
to DOUBLE at the end; ratios divide two already-identical DOUBLEs (one
IEEE op on bit-identical inputs) rather than dividing decimals, whose
scale/rounding rules differ between engines; ``year()`` is cast to
INTEGER on both sides (DuckDB returns BIGINT, Spark INT).

Scale notes: nation/region/supplier are broadcast explicitly (true dims
— 25/5/100 rows at any SF in this schema). customer and part join
without a hint: they grow with SF, so the plan must survive them
shuffling; AQE promotes them to broadcast at test scale on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.operators.ranking import two_phase_scan
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import (
    _DAY,
    _SPLIT_DUCK,
    _SPLIT_SPARK,
    _cents,
    _du,
    _sp,
    _split_double,
)
from etl_seattle_call_data_spark.sources.registry import load_table


@register(
    "q1_pricing_summary",
    "TPC-H-Q1-style wide aggregate: filter + groupBy + sum/avg/count. "
    "Generalizes the reference's aggregation surface (SURVEY §2.4); sums in "
    "DECIMAL for cross-engine exactness.",
    """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_dec = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_dec).cast("double").alias("sum_qty"),
            F.sum(price_dec).cast("double").alias("sum_base_price"),
            F.sum(price_dec * (F.lit(1) - disc_dec)).cast("double").alias("sum_disc_price"),
            (F.sum(qty_dec).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price_dec).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q5_local_supplier_volume",
    "TPC-H-Q5-style 6-table join: revenue by nation where the customer "
    "and supplier share the nation, region-filtered. The dim chain "
    "(region→nation→supplier) and customer broadcast; only "
    "lineitem⋈orders shuffles — the canonical deep-star plan.",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q14_promo_revenue_share",
    "TPC-H-Q14-style conditional-aggregate ratio: promo part types' share "
    "of one month's revenue — part broadcast against the date-pruned "
    "lineitem scan, decimal-exact numerator/denominator, one divide.",
    """
    SELECT CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             * 100.0 AS DOUBLE) AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def q_q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.sum(promo).cast("double") / F.sum(rev).cast("double") * F.lit(100.0))
            .cast("double")
            .alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_volume_orders",
    "TPC-H-Q18-style: orders whose total line quantity exceeds a "
    "threshold (aggregate-driven HAVING filter), semi-joined back and "
    "re-aggregated with the customer name — the agg→filter→semi-join "
    "shape where the qualifying-key set, not the fact, drives the join.",
    """
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("__q"))
        .filter(F.col("__q") > 200)
        .select("l_orderkey")
    )
    return (
        o.join(qualifying, F.col("o_orderkey") == qualifying.l_orderkey, "left_semi")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).cast("double").alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Subquery shapes: EXISTS / NOT IN / disjunctive join predicates / top-k
# report — the decorrelation patterns (TPC-H Q4/Q16/Q19/Q10 shapes) the
# reference's serving layer would need as it grows beyond group-by-count
# (SURVEY §2.4; reference ships only flat aggregates, README.md:130-134).
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority_exists",
    "TPC-H-Q4-style EXISTS decorrelation: orders with at least one line "
    "shipped ≥60 days after the order date, counted by priority. The "
    "EXISTS becomes a left-semi join with a mixed equi + non-equi "
    "condition — lineitem never fans out the order rows.",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q16_supplier_cnt_not_in",
    "TPC-H-Q16-style NOT IN + COUNT(DISTINCT): per (brand, size) count of "
    "distinct suppliers shipping the part, excluding negative-balance "
    "suppliers. NOT IN over a non-null key compiles to a broadcast "
    "anti-join; the distinct agg is the only shuffle.",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part, lineitem
    WHERE p_partkey = l_partkey
      AND p_size <= 10
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
    """,
)
def q_q16_supplier_cnt_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), on="l_suppkey", how="left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q19_disjunctive_revenue",
    "TPC-H-Q19-style disjunctive join: three OR'd (brand, size-band, "
    "quantity-band) predicate groups over a single broadcast part join — "
    "Catalyst extracts the common equi-key so the OR never forces a "
    "nested-loop join.",
    """
    SELECT COALESCE(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 0.0)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(arm("Brand#12", 5, 1, 11) | arm("Brand#23", 10, 10, 20) | arm("Brand#34", 15, 20, 30))
        .agg(
            # COALESCE: at tiny SFs all three arms can be empty, and an
            # empty SUM is NULL — which canonicalizes as None in Spark
            # but NaN through DuckDB->pandas; 0.0 is the empty-revenue
            F.coalesce(F.sum(rev).cast("double"), F.lit(0.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q10_returned_items",
    "TPC-H-Q10-style returned-item report: quarter of orders, lines "
    "flagged 'R', revenue per customer with nation, top 20. Dim joins "
    "broadcast; the orders⋈lineitem shuffle carries only the quarter.",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q17_small_quantity_revenue",
    "TPC-H-Q17-style correlated scalar subquery, decorrelated: lines of "
    "one brand's parts with quantity under 20% of that part's average. "
    "The per-part average is a partial-agg shuffle on the (filtered, "
    "broadcast-small) part set, joined back broadcast — the correlation "
    "never re-scans lineitem per row.",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    # decorrelate: per-part avg over ALL lineitem (the subquery is not
    # brand-filtered — it correlates only on partkey), then join back.
    brand_lines = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    part_avg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("__pk"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("__qty_cap"))
    )
    return (
        brand_lines.join(F.broadcast(part_avg), F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__qty_cap"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q22_dormant_high_balance",
    "TPC-H-Q22-style: above-average-balance customers with no recent "
    "orders — an uncorrelated scalar subquery (global avg, one tiny "
    "broadcast row) + NOT EXISTS anti-join against the date-pruned "
    "orders scan, grouped by nation.",
    """
    SELECT c_nationkey,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_nationkey
    """,
)
def q_q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # uncorrelated scalar subquery: a 1-row aggregate joined as a
    # broadcast cross (every engine plans this as a reusable scalar)
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("__avg_bal"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, on="c_custkey", how="left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


@register(
    "q6_forecast_revenue_change",
    "TPC-H-Q6-style fully-pushed-down predicate aggregate: one year of "
    "shipments in a discount/quantity band, revenue = Σ price·discount. "
    "Every predicate reaches the parquet scan (PushedFilters); the plan "
    "is scan → partial agg → 1-row exchange — the cheapest possible "
    "shape, and the benchmark's canonical scan-efficiency probe.",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q_q6_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q7_bi_nation_volume",
    "TPC-H-Q7-style bi-nation trade flow: revenue between one nation pair "
    "(customer side × supplier side, both directions) by ship "
    "year. Both nation dims broadcast twice under different aliases; "
    "the only shuffles are lineitem⋈orders and the final group-by.",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice, l_discount
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_q7_bi_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), on="s_nationkey")
        .join(F.broadcast(n2), on="c_nationkey")
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q3_shipping_priority",
    "TPC-H-Q3-style 3-way join + revenue top-10: customer⋈orders⋈lineitem, "
    "decimal-exact revenue, deterministic (revenue DESC, orderkey) order.",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    return (
        F.broadcast(c).join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


_DEC2 = "decimal(18,2)"


def _revenue() -> F.Column:
    return F.col("l_extendedprice").cast(_DEC2) * (
        F.lit(1) - F.col("l_discount").cast(_DEC2)
    )


@register(
    "q8_market_share",
    "TPC-H-Q8 shape: of STANDARD-type part revenue sold to ASIA-region "
    "customers, the share supplied by NATION_7, per order year. The "
    "ratio divides two DOUBLE sums (bit-identical on both engines) "
    "instead of decimals. Supplier/nation/region broadcast; part and "
    "customer join unhinted (they scale with SF — AQE decides).",
    """
    WITH sold AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey AND p_type = 'STANDARD'
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = cn.n_regionkey AND r_name = 'ASIA'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
           CAST(SUM(volume) AS DOUBLE) AS total_volume,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM sold
    GROUP BY o_year
    """,
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_nationkey"),
        F.col("n_regionkey").alias("cn_regionkey"),
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    sold = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("cn_regionkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_nationkey") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _revenue().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast(_DEC2)
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)
    ).cast("double")
    tot = F.sum("volume").cast("double")
    return sold.groupBy("o_year").agg(
        nat.alias("nation_volume"),
        tot.alias("total_volume"),
        (nat / tot).alias("mkt_share"),
    )


@register(
    "q2_best_supplier_per_part",
    "TPC-H-Q2 shape (adapted: no partsupp table — the part↔supplier "
    "relation is the DISTINCT (l_partkey, l_suppkey) projection of "
    "lineitem, and 'min supplycost' becomes 'max s_acctbal'). The "
    "correlated subquery SELECT max(..) WHERE same part decorrelates "
    "to a window-max + equality filter — one shuffle on partkey, no "
    "self-join. Ties keep all tied suppliers, as in the original.",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
             MAX(s_acctbal) OVER (PARTITION BY p_partkey) AS best_bal
      FROM part
      JOIN ps ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_size < 10
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
    FROM cand WHERE s_acctbal = best_bal
    """,
)
def q_q2_best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    # Semi-join the raw pair stream against the filtered part keys BEFORE
    # the distinct: the dedup shuffle then carries only the ~1/5 of pairs
    # that survive the p_size predicate, and the later inner join (for
    # p_name) is against the same filtered side.
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(p.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("p_partkey")
    return (
        p.join(ps, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .withColumn("best_bal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("best_bal"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )


@register(
    "q11_important_parts",
    "TPC-H-Q11 shape (adapted: part 'value' is discounted revenue from "
    "NATION_3 suppliers instead of supplycost*availqty). The scalar "
    "subquery (global total * threshold) is a 1-row aggregate cross-"
    "joined back as a broadcast — Catalyst's decorrelation for scalar "
    "subqueries, written explicitly. Both sides compare DOUBLEs cast "
    "from exact decimal sums, so the threshold cut is bit-identical.",
    """
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(value_dec AS DOUBLE)
          > (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM pv) * 0.001
    """,
)
def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    pv = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_revenue()).alias("value_dec"))
    )
    total = pv.agg(F.sum("value_dec").cast("double").alias("total_value"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("total_value") * 0.001)
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


@register(
    "q12_priority_by_quantity_class",
    "TPC-H-Q12 shape (adapted: no l_shipmode — lines are classed BULK/"
    "SMALL by quantity >= 25). Join + dual conditional counts grouped "
    "by the derived class, one shuffle on the tiny class key after a "
    "map-side partial agg; the year filter pushes to the parquet scan.",
    """
    SELECT CASE WHEN l_quantity >= 25 THEN 'BULK' ELSE 'SMALL' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q_q12_priority_by_quantity_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.when(F.col("l_quantity") >= 25, "BULK")
            .otherwise("SMALL")
            .alias("ship_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_distribution",
    "TPC-H-Q13: distribution of per-customer order counts, with a "
    "join-condition filter (priority <> 4-NOT SPECIFIED) that must NOT "
    "drop order-less customers — a left outer join with the predicate "
    "on the join's right side, then two aggregations. COUNT(o_orderkey) "
    "counts non-null matches only, so customers with zero qualifying "
    "orders land in the c_count=0 bucket.",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    "TPC-H-Q15: the revenue view (supplier revenue over one quarter) "
    "joined against its own MAX — the decimal sums make the equality "
    "exact on both engines, so ties (all suppliers at the max) are "
    "deterministic. The max is a 1-row broadcast, not a rescan.",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = supplier_no
    WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM rev)
    """,
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue()).alias("total_rev_dec")
    )
    best = rev.agg(F.max("total_rev_dec").alias("best_rev"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev_dec") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q21_sole_failing_supplier",
    "TPC-H-Q21 shape (adapted: l_returnflag='R' marks the failing line "
    "— no receipt/commit dates exist). Per supplier, the number of "
    "finished multi-supplier orders where THAT supplier is the only one "
    "with a failing line. The EXISTS / NOT-EXISTS pair decorrelates to "
    "one per-order aggregate (distinct suppliers, distinct failing "
    "suppliers) joined back — two scans of lineitem total, no "
    "correlated re-scans per row, which is the 100-TB-safe plan.",
    """
    WITH stats AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_fail
      FROM lineitem GROUP BY l_orderkey
    ),
    failing AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM failing
    JOIN stats USING (l_orderkey)
    JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_supp > 1 AND n_fail = 1
    GROUP BY s_name
    """,
)
def q_q21_sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    # One aggregation tree instead of two lineitem scans: collapse to
    # (orderkey, suppkey, failed) first — COUNT(*)/SUM(failed) over that
    # equals the two COUNT(DISTINCT)s, without the expand operator a
    # multi-distinct agg plans, and the two consumers below share the
    # same exchange (AQE reuses it).
    # NOTE: no checkpoint: both branches read per_supp's identical columns, so
    # exchange reuse already runs it once (as in q_power_iteration_top_eigen).
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
        ).alias("failed")
    )
    stats = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("failed").alias("n_fail"),
    )
    failing = per_supp.filter(F.col("failed") == 1).select("l_orderkey", "l_suppkey")
    return (
        failing.join(stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_fail") == 1))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q9_product_type_profit",
    "TPC-H-Q9 shape (adapted: the testdata has no partsupp, so unit "
    "cost is p_retailprice — the join graph, LIKE-filtered part dim, "
    "and nation×year profit rollup are preserved). All arithmetic in "
    "DECIMAL until the final DOUBLE cast: (18,2)×(19,2) products stay "
    "exact at scale 4 on both engines, so the sums hash identically. "
    "supplier+nation broadcast (fixed-size dims); part joins unhinted "
    "(scales with SF); the one shuffle aggregates (nation, year).",
    """
    WITH profit AS (
      SELECT sn.n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))
               - CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%bolt%'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
    )
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM profit GROUP BY nation, o_year
    """,
)
def q_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    amount = _revenue() - F.col("p_retailprice").cast(_DEC2) * F.col("l_quantity").cast(_DEC2)
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
    )


@register(
    "q20_dominant_part_suppliers",
    "TPC-H-Q20 shape (adapted: no partsupp availqty, so 'has excess "
    "stock' becomes 'shipped more than 10% of the part's total' — the "
    "nested aggregate-within-semi-join structure is intact: an inner "
    "per-(supplier,part) aggregate compared against a per-part scalar "
    "aggregate, the qualifiers feeding an IN-subquery on supplier, "
    "itself filtered to two nations via a broadcast dim). The shipped "
    "totals reuse ONE aggregation (part totals re-aggregate the "
    "(supp,part) rollup, not lineitem) and the 10% threshold compares "
    "two DOUBLEs derived from exact DECIMAL sums — cross-engine-stable. "
    "At scale: lineitem shuffles once on (suppkey,partkey); everything "
    "downstream is dim-sized.",
    """
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    shipped AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem JOIN red_parts ON p_partkey = l_partkey
      GROUP BY l_suppkey, l_partkey
    ),
    part_total AS (
      SELECT l_partkey AS tp, SUM(qty) AS total_qty
      FROM shipped GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM shipped JOIN part_total ON l_partkey = tp
        WHERE CAST(qty AS DOUBLE) > 0.1 * CAST(total_qty AS DOUBLE)
      )
      AND s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_name IN ('NATION_3', 'NATION_7')
      )
    """,
)
def q_q20_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    shipped = (
        li.join(p.select("p_partkey"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC2)).alias("qty"))
    )
    # Part totals as a window over the ALREADY-aggregated rollup, not a
    # second aggregation re-joined: the oracle's part_total CTE would
    # otherwise make Spark scan lineitem twice (shipped feeds two
    # consumers; exchange reuse across an agg+join is not guaranteed).
    # One fact scan, one extra shuffle over the (supp,part)-sized table.
    dominant = (
        shipped.withColumn(
            "total_qty", F.sum("qty").over(Window.partitionBy("l_partkey"))
        )
        .filter(F.col("qty").cast("double") > F.lit(0.1) * F.col("total_qty").cast("double"))
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"), "left_semi")
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Mix-shift decomposition: volume vs price effect per segment


@register(
    "mix_shift_decomposition",
    "Period-over-period revenue-change decomposition per order "
    "priority — the BI mix-shift analysis: delta = volume effect "
    "((n2−n1)·avg1) + price effect (n2·(avg2−avg1)), with the "
    "truncation residual reported explicitly so the identity is "
    "auditable. Both periods (first vs second half of the date range "
    "by median day) come from ONE conditional-aggregate scan; "
    "averages are fixed-point cents DIV order-count (identical "
    "truncation both engines). The period split day is a bounded "
    "scalar broadcast.",
    """
    WITH d AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    split AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d),
    g AS (
      SELECT priority,
             CAST(SUM(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN day <= mid THEN cents ELSE 0 END) AS BIGINT) AS rev1,
             CAST(SUM(CASE WHEN day > mid THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN day > mid THEN cents ELSE 0 END) AS BIGINT) AS rev2
      FROM d CROSS JOIN split
      GROUP BY priority
    )
    SELECT priority, n1, rev1, n2, rev2,
           CAST((n2 - n1) * (rev1 // NULLIF(n1, 0)) AS BIGINT) AS volume_effect,
           CAST(n2 * (rev2 // NULLIF(n2, 0) - rev1 // NULLIF(n1, 0)) AS BIGINT)
             AS price_effect,
           CAST((rev2 - rev1)
                - (n2 - n1) * (rev1 // NULLIF(n1, 0))
                - n2 * (rev2 // NULLIF(n2, 0) - rev1 // NULLIF(n1, 0))
                AS BIGINT) AS residual
    FROM g
    """,
)
def q_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    split = d.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"))
    g = (
        d.crossJoin(F.broadcast(split))
        .groupBy("priority")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("day") <= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("rev1"),
            F.sum(F.when(F.col("day") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(F.when(F.col("day") > F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("rev2"),
        )
    )
    a1 = "rev1 DIV NULLIF(n1, 0)"
    a2 = "rev2 DIV NULLIF(n2, 0)"
    return g.select(
        "priority",
        "n1",
        "rev1",
        "n2",
        "rev2",
        F.expr(f"CAST((n2 - n1) * ({a1}) AS BIGINT)").alias("volume_effect"),
        F.expr(f"CAST(n2 * (({a2}) - ({a1})) AS BIGINT)").alias("price_effect"),
        F.expr(
            f"CAST((rev2 - rev1) - (n2 - n1) * ({a1})"
            f" - n2 * (({a2}) - ({a1})) AS BIGINT)"
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Grouped discount elasticity (per-brand correlation)
# ---------------------------------------------------------------------------


@register(
    "discount_elasticity_by_brand",
    "Discount sensitivity per brand: Pearson correlation between the "
    "line discount and the quantity purchased, computed per brand "
    "from exact integer centi-scaled moments — the grouped "
    "correlation operator (the global corr matrix's per-segment "
    "companion) and a first-order elasticity screen. Per-row products "
    "are < 2^30; per-brand sums stay BIGINT, but the n*Sxy - Sx*Sy "
    "combinations cross 2^53 at large SF, so they form in "
    "DECIMAL(38,0)/HUGEINT and reach DOUBLE via the quotient+"
    "remainder split before the single corr expression tree. One "
    "fact-dim join (AQE-sized) + one 25-row aggregate.",
    f"""
    WITH x AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_discount * 100) AS BIGINT) AS d,
             CAST(round(l.l_quantity * 100) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    mom AS (
      SELECT brand,
             COUNT(*) AS n,
             SUM(d) AS sd, SUM(q) AS sq,
             SUM(d * q) AS sdq, SUM(d * d) AS sdd, SUM(q * q) AS sqq
      FROM x GROUP BY brand
    ),
    c AS (
      SELECT brand, n,
             n * sdq - sd * sq AS covnum,
             n * sdd - sd * sd AS vdnum,
             n * sqq - sq * sq AS vqnum
      FROM mom
    ),
    s AS (
      SELECT brand, n,
             {_split_double('covnum').format(**_SPLIT_DUCK)} AS covd,
             {_split_double('vdnum').format(**_SPLIT_DUCK)} AS vdd,
             {_split_double('vqnum').format(**_SPLIT_DUCK)} AS vqd
      FROM c
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           CASE WHEN vdd = 0.0 OR vqd = 0.0 THEN 0.0
                ELSE covd / sqrt(vdd * vqd) END AS discount_qty_corr
    FROM s
    """,
)
def q_discount_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("q"),
    )
    mom = x.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sd"),
        F.sum("q").alias("sq"),
        F.sum(F.col("d") * F.col("q")).alias("sdq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = mom.select(
        "brand",
        "n",
        (dec(F.col("n")) * dec(F.col("sdq")) - dec(F.col("sd")) * dec(F.col("sq"))).alias(
            "covnum"
        ),
        (dec(F.col("n")) * dec(F.col("sdd")) - dec(F.col("sd")) * dec(F.col("sd"))).alias(
            "vdnum"
        ),
        (dec(F.col("n")) * dec(F.col("sqq")) - dec(F.col("sq")) * dec(F.col("sq"))).alias(
            "vqnum"
        ),
    )
    s = c.select(
        "brand",
        "n",
        F.expr(_split_double("covnum").format(**_SPLIT_SPARK)).alias("covd"),
        F.expr(_split_double("vdnum").format(**_SPLIT_SPARK)).alias("vdd"),
        F.expr(_split_double("vqnum").format(**_SPLIT_SPARK)).alias("vqd"),
    )
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        F.when((F.col("vdd") == 0.0) | (F.col("vqd") == 0.0), F.lit(0.0))
        .otherwise(F.col("covd") / F.sqrt(F.col("vdd") * F.col("vqd")))
        .alias("discount_qty_corr"),
    )


# ---------------------------------------------------------------------------
# Shipping-SLA quantile report
# ---------------------------------------------------------------------------


@register(
    "shipping_sla_report",
    "Order-to-ship SLA report per order priority: p50/p90 of the "
    "ship lag in whole days (discrete percentiles — order statistics, "
    "rule 7's interpolation-proof form) plus the count and rate of "
    "90-day violations — the operations dashboard row behind every "
    "fulfillment review. Lag is an exact epoch-day difference "
    "(integer; rule 11 — no fractional-second doubles). One fact-"
    "order join (AQE-sized) and one 5-row aggregate.",
    """
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             epoch_us(l.l_shipdate) // 86400000000
               - epoch_us(o.o_orderdate) // 86400000000 AS lag_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(quantile_disc(lag_days, 0.5) AS BIGINT) AS p50_days,
           CAST(quantile_disc(lag_days, 0.9) AS BIGINT) AS p90_days,
           CAST(SUM(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(SUM(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS violation_ppm
    FROM lag
    GROUP BY priority
    """,
)
def q_shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        (
            F.expr("unix_micros(l_shipdate) DIV 86400000000")
            - F.expr("unix_micros(o_orderdate) DIV 86400000000")
        ).alias("lag_days"),
    )
    return lag.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_days) AS BIGINT)").alias(
            "p50_days"
        ),
        F.expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_days) AS BIGINT)").alias(
            "p90_days"
        ),
        F.sum(F.when(F.col("lag_days") > 90, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violations"),
        F.expr(
            "CAST(SUM(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("violation_ppm"),
    )


# Cumulative-weekday closed form: W(d) = 5*((d+3) DIV 7) + LEAST((d+3)%7, 5)
# counts weekdays in [Monday 1969-12-29, d) — business days between two
# dates is the difference W(d2)-W(d1), no per-day explode, no calendar
# table. (+3 aligns epoch day 0, a Thursday, to a Monday-started week.)
_W_SPARK = "(5 * ((({d}) + 3) DIV 7) + LEAST((({d}) + 3) % 7, 5))"
_W_DUCK = "(5 * ((({d}) + 3) // 7) + LEAST((({d}) + 3) % 7, 5))"


@register(
    "business_day_latency",
    "Order-to-ship latency in BUSINESS days per priority: weekday "
    "counts come from the closed-form cumulative function "
    "W(d) = 5*((d+3) DIV 7) + LEAST((d+3)%7, 5) evaluated at the two "
    "epoch-day endpoints — pure integer arithmetic, no calendar "
    "dimension, no per-day explode, identical on both engines. "
    "Reports mean/max business-day lag and the share beyond 60 "
    "business days — the SLA view operations actually contract on "
    "(calendar-day SLAs overcount weekends by ~40%%). One fact-order "
    "join + one bounded aggregate.",
    f"""
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             {_W_DUCK.format(d="epoch_us(l.l_shipdate) // 86400000000")}
               - {_W_DUCK.format(d="epoch_us(o.o_orderdate) // 86400000000")}
               AS bdays
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(bdays) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_business_days,
           CAST(MAX(bdays) AS BIGINT) AS max_business_days,
           CAST(SUM(CASE WHEN bdays > 60 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS over_60bd_ppm
    FROM lag
    GROUP BY priority
    """,
)
def q_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ship_w = _W_SPARK.format(d="unix_micros(l_shipdate) DIV 86400000000")
    order_w = _W_SPARK.format(d="unix_micros(o_orderdate) DIV 86400000000")
    lag = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(f"{ship_w} - {order_w}").alias("bdays"),
    )
    return lag.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        (F.sum("bdays").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_business_days"
        ),
        F.max("bdays").cast("bigint").alias("max_business_days"),
        F.expr(
            "CAST(SUM(CASE WHEN bdays > 60 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("over_60bd_ppm"),
    )


# ---------------------------------------------------------------------------
# Market concentration (HHI) per brand
# ---------------------------------------------------------------------------


@register(
    "market_concentration_hhi",
    "Herfindahl-Hirschman concentration index per brand market: each "
    "supplier's revenue share within the brand in truncated ppm, HHI "
    "= sum of squared shares rescaled to ppm (monopoly = 1e6) — the "
    "antitrust-grade concentration number, all integer fixed point "
    "(shares truncate BEFORE squaring, identically on both "
    "engines). Flags brands above the 0.25 concentration line. One "
    "fact-dim join, one (brand, supplier) rollup (bounded 25x100), "
    "window total per brand, 25-row output.",
    """
    WITH bs AS (
      SELECT p.p_brand AS brand, l.l_suppkey AS suppkey,
             SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    shares AS (
      SELECT brand, suppkey, cents,
             cents * 1000000 // SUM(cents) OVER (PARTITION BY brand)
               AS share_ppm,
             SUM(cents) OVER (PARTITION BY brand) AS total_cents
      FROM bs
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(MAX(total_cents) AS DOUBLE) / 100.0 AS total_revenue,
           CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
           SUM(share_ppm * share_ppm) // 1000000 > 250000 AS concentrated
    FROM shares
    GROUP BY brand
    """,
)
def q_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"))
    )
    wb = Window.partitionBy("brand")
    shares = bs.select(
        "brand",
        "cents",
        F.expr("cents * 1000000 DIV SUM(cents) OVER (PARTITION BY brand)").alias(
            "share_ppm"
        ),
        F.sum("cents").over(wb).alias("total_cents"),
    )
    hhi = F.expr("SUM(share_ppm * share_ppm) DIV 1000000")
    return shares.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        (F.max("total_cents").cast("double") / 100.0).alias("total_revenue"),
        hhi.cast("bigint").alias("hhi_ppm"),
        (hhi > 250000).alias("concentrated"),
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher monthly price indices
# ---------------------------------------------------------------------------


@register(
    "price_index_fisher_monthly",
    "Monthly Laspeyres, Paasche, and Fisher price indices vs the "
    "first shipping month: per-(month, part) unit prices in exact "
    "micro-dollar fixed point (cents*10000 DIV qty, rule 4), "
    "basket-weighted sums in DECIMAL(38,0) (price*qty products pass "
    "2^53 at sf1), one IEEE division per index and one sqrt for "
    "Fisher (rules 1-2, 8). Parts enter a month's index only when "
    "present in BOTH that month and the base month (the standard "
    "matched-sample rule). One fact shuffle to (month, part), a "
    "broadcastable base-month join on partkey, ~80-row output.",
    """
    WITH pm AS (
      SELECT CAST(year(l_shipdate) AS INTEGER) * 100
               + CAST(month(l_shipdate) AS INTEGER) AS ym,
             l_partkey AS pk,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
             SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    up AS (SELECT ym, pk, cents * 10000 // qty AS pmicro, qty FROM pm),
    base AS (
      SELECT pk, pmicro AS p0, qty AS q0 FROM up
      WHERE ym = (SELECT MIN(ym) FROM up)
    ),
    j AS (
      SELECT u.ym, u.pmicro, u.qty, b.p0, b.q0
      FROM up u JOIN base b ON b.pk = u.pk
    ),
    s AS (
      SELECT ym,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(CAST(pmicro * q0 AS DECIMAL(38,0))) AS DOUBLE) AS lt,
             CAST(SUM(CAST(p0 * q0 AS DECIMAL(38,0))) AS DOUBLE) AS lb,
             CAST(SUM(CAST(pmicro * qty AS DECIMAL(38,0))) AS DOUBLE) AS pt,
             CAST(SUM(CAST(p0 * qty AS DECIMAL(38,0))) AS DOUBLE) AS pb
      FROM j GROUP BY ym
    )
    SELECT ym, n_parts,
           lt / lb AS laspeyres,
           pt / pb AS paasche,
           sqrt((lt / lb) * (pt / pb)) AS fisher
    FROM s
    """,
)
def q_price_index_fisher_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        (
            F.year("l_shipdate").cast("int") * 100
            + F.month("l_shipdate").cast("int")
        ).alias("ym"),
        F.col("l_partkey").alias("pk"),
    ).agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("cents"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
    )
    # r11 NOTE (measured negative — do not "fix" again): up feeds three
    # consumers (min-ym scalar, base-month filter, join probe), but a
    # checkpoint barrier here measured SLOWER (count best-of-5:
    # 1.50 s → 2.08 s at sf0.1) — the (month, part) rollup is
    # near-part-cardinality, so materializing it costs more than the
    # pipelined branch re-evaluations it saves (skipgram counterexample
    # class). Keeping the three-consumer shape.
    up = pm.select(
        "ym", "pk", F.expr("cents * 10000 DIV qty").alias("pmicro"), "qty"
    )
    min_ym = up.agg(F.min("ym").alias("min_ym"))
    base = (
        dq.scalar_join(up, min_ym)
        .filter(F.col("ym") == F.col("min_ym"))
        .select("pk", F.col("pmicro").alias("p0"), F.col("qty").alias("q0"))
    )
    j = up.join(base, "pk")
    s = j.groupBy("ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum((F.col("pmicro") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("lt"),
        F.sum((F.col("p0") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("lb"),
        F.sum((F.col("pmicro") * F.col("qty")).cast("decimal(38,0)"))
        .cast("double")
        .alias("pt"),
        F.sum((F.col("p0") * F.col("qty")).cast("decimal(38,0)"))
        .cast("double")
        .alias("pb"),
    )
    return s.select(
        "ym",
        "n_parts",
        (F.col("lt") / F.col("lb")).alias("laspeyres"),
        (F.col("pt") / F.col("pb")).alias("paasche"),
        F.sqrt((F.col("lt") / F.col("lb")) * (F.col("pt") / F.col("pb"))).alias(
            "fisher"
        ),
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) proration of a fixed budget
# ---------------------------------------------------------------------------

_LR_BUDGET = 10000


@register(
    "revenue_proration_largest_remainder",
    "Largest-remainder (Hamilton) apportionment: prorate a fixed "
    "budget of 10000 units across nations proportional to exact "
    "revenue cents so the allocation is INTEGER and sums EXACTLY to "
    "the budget — floor shares first, then one extra unit to the "
    "largest fractional remainders (remainder = rev*budget % total, "
    "exact BIGINT; ties broken by nation name, rule 20). The "
    "billing/budget primitive that naive rounding gets wrong (sums "
    "drift by a few units). One fact rollup + broadcast nation dim; "
    "ranking windows over the 25-row nation table.",
    f"""
    WITH nr AS (
      SELECT n.n_name AS nation,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    ),
    t AS (SELECT SUM(cents) AS total, COUNT(*) AS n_nations FROM nr),
    base AS (
      SELECT nation, cents,
             cents * {_LR_BUDGET} // t.total AS floor_units,
             cents * {_LR_BUDGET} % t.total AS remainder,
             t.total AS total
      FROM nr, t
    ),
    ranked AS (
      SELECT nation, cents, floor_units, remainder,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, nation) AS rr,
             {_LR_BUDGET} - SUM(floor_units) OVER () AS leftover
      FROM base
    )
    SELECT nation,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(floor_units AS BIGINT) AS floor_units,
           CAST(CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra_unit,
           CAST(floor_units + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS allocated_units
    FROM ranked
    """,
)
def q_revenue_proration_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    nr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    t = nr.agg(F.sum("cents").alias("total"))
    base = dq.scalar_join(nr, t).select(
        "nation",
        "cents",
        F.expr(f"cents * {_LR_BUDGET} DIV total").alias("floor_units"),
        F.expr(f"cents * {_LR_BUDGET} % total").alias("remainder"),
    )
    # 25-row nation table: bounded single-partition windows
    ranked = base.select(
        "nation",
        "cents",
        "floor_units",
        F.row_number()
        .over(Window.orderBy(F.col("remainder").desc(), "nation"))
        .alias("rr"),
        (F.lit(_LR_BUDGET) - F.sum("floor_units").over(Window.partitionBy()))
        .alias("leftover"),
    )
    extra = F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "nation",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.col("floor_units").cast("bigint").alias("floor_units"),
        extra.cast("bigint").alias("extra_unit"),
        (F.col("floor_units") + extra).cast("bigint").alias("allocated_units"),
    )


# ---------------------------------------------------------------------------
# Pocket-price waterfall per brand
# ---------------------------------------------------------------------------


@register(
    "pocket_price_waterfall",
    "Pocket-price waterfall per brand — the commercial-pricing "
    "decomposition gross -> discount leakage -> tax -> pocket "
    "revenue: per line, discount and tax amounts are exact "
    "fixed-point products (cents x basis points, truncating DIV "
    "defined into the ledger so both engines carry identical "
    "pennies), summed in DECIMAL(38,0) (micro-cent products pass "
    "2^63 well before sf1) and split-converted once. Pocket share "
    "in ppm via integral division of the exact decimal sums. One "
    "fact-dim join (part broadcast-eligible), one 25-row brand "
    "rollup.",
    f"""
    WITH l AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l.l_discount * 10000) AS BIGINT) AS dbp,
             CAST(round(l.l_tax * 10000) AS BIGINT) AS tbp
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    amounts AS (
      SELECT brand, cents,
             cents * dbp // 10000 AS disc_cents,
             (cents - cents * dbp // 10000) * tbp // 10000 AS tax_cents
      FROM l
    ),
    s AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             SUM(cents) AS gross_i,
             SUM(disc_cents) AS disc_i,
             SUM(tax_cents) AS tax_i,
             SUM(cents - disc_cents + tax_cents) AS pocket_i
      FROM amounts GROUP BY brand
    )
    SELECT brand, n_lines,
           {_split_double('gross_i').format(**_SPLIT_DUCK)} / 100.0 AS gross,
           {_split_double('disc_i').format(**_SPLIT_DUCK)} / 100.0
             AS discount_leakage,
           {_split_double('tax_i').format(**_SPLIT_DUCK)} / 100.0 AS tax_added,
           {_split_double('pocket_i').format(**_SPLIT_DUCK)} / 100.0
             AS pocket_revenue,
           CAST(pocket_i * 1000000 // gross_i AS BIGINT) AS pocket_ppm
    FROM s
    """,
)
def q_pocket_price_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    l = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("dbp"),
        F.round(F.col("l_tax") * 10000).cast("bigint").alias("tbp"),
    )
    amounts = l.select(
        "brand",
        "cents",
        F.expr("cents * dbp DIV 10000").alias("disc_cents"),
        F.expr("(cents - cents * dbp DIV 10000) * tbp DIV 10000").alias(
            "tax_cents"
        ),
    )
    s = amounts.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("gross_i"),
        F.sum(F.col("disc_cents").cast("decimal(38,0)")).alias("disc_i"),
        F.sum(F.col("tax_cents").cast("decimal(38,0)")).alias("tax_i"),
        F.sum(
            (F.col("cents") - F.col("disc_cents") + F.col("tax_cents")).cast(
                "decimal(38,0)"
            )
        ).alias("pocket_i"),
    )

    def split(name: str):
        return F.expr(_split_double(name).format(**_SPLIT_SPARK))

    return s.select(
        "brand",
        "n_lines",
        (split("gross_i") / 100.0).alias("gross"),
        (split("disc_i") / 100.0).alias("discount_leakage"),
        (split("tax_i") / 100.0).alias("tax_added"),
        (split("pocket_i") / 100.0).alias("pocket_revenue"),
        F.expr("CAST(pocket_i * 1000000 DIV gross_i AS BIGINT)").alias(
            "pocket_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Process capability (Cp / Cpk) of fulfillment lead time
# ---------------------------------------------------------------------------

_PC_LSL = 0
_PC_USL = 120
_PC_MAX_PLAUSIBLE = 365


@register(
    "process_capability_leadtime",
    "Process-capability indices for fulfillment lead time per line "
    "status: Cp = (USL-LSL)/6s and Cpk = min(USL-mean, mean-LSL)/3s "
    "against the [0, 120]-day spec window — the six-sigma SLA lens "
    "that reports not just whether the process meets spec but how "
    "much margin it has. Lead days are exact integer epoch-day "
    "differences (rule 11), restricted to the documented plausible "
    "window [0, 365] (this corpus ships synthetic dates in both "
    "directions); mean/sd come from exact split-converted integer "
    "moments with the sample-variance shared tree (rules 1-2, 8). "
    "One join-filter-aggregate pass; moments are map-side "
    "combinable.",
    f"""
    WITH d AS (
      SELECT l.l_linestatus AS status,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // 86400000000 AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    f AS (
      SELECT status, days FROM d
      WHERE days >= 0 AND days <= {_PC_MAX_PLAUSIBLE}
    ),
    s AS (
      SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(days) AS sx_i, SUM(days * days) AS sxx_i
      FROM f GROUP BY status
    ),
    e AS (
      SELECT status, n,
             CAST(n AS DOUBLE) AS nn,
             {_split_double('sx_i').format(**_SPLIT_DUCK)} AS sx,
             {_split_double('sxx_i').format(**_SPLIT_DUCK)} AS sxx
      FROM s
    )
    SELECT status, n AS n_lines,
           sx / nn AS mean_days,
           sqrt((sxx - sx * sx / nn) / NULLIF(nn - 1.0, 0)) AS sd_days,
           CAST({_PC_USL - _PC_LSL} AS DOUBLE)
             / NULLIF(6.0 * sqrt((sxx - sx * sx / nn)
                                 / NULLIF(nn - 1.0, 0)), 0) AS cp,
           LEAST({_PC_USL}.0 - sx / nn, sx / nn - {_PC_LSL}.0)
             / NULLIF(3.0 * sqrt((sxx - sx * sx / nn)
                                 / NULLIF(nn - 1.0, 0)), 0) AS cpk
    FROM e
    """,
)
def q_process_capability_leadtime(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_linestatus").alias("status"),
        F.expr(
            "(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
            " DIV 86400000000"
        ).alias("days"),
    )
    f = d.filter((F.col("days") >= 0) & (F.col("days") <= _PC_MAX_PLAUSIBLE))
    s = f.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("days").alias("sx_i"),
        F.sum((F.col("days") * F.col("days")).cast("decimal(38,0)")).alias(
            "sxx_i"
        ),
    )
    e = s.select(
        "status",
        "n",
        F.col("n").cast("double").alias("nn"),
        F.expr(_split_double("sx_i").format(**_SPLIT_SPARK)).alias("sx"),
        F.expr(_split_double("sxx_i").format(**_SPLIT_SPARK)).alias("sxx"),
    )
    # NULLIF guards (rule 40): a 1-line or constant-leadtime status
    # zeroes nn - 1 / sigma
    sd = "sqrt((sxx - sx * sx / nn) / NULLIF(nn - 1.0, 0))"
    return e.select(
        "status",
        F.col("n").alias("n_lines"),
        F.expr("sx / nn").alias("mean_days"),
        F.expr(sd).alias("sd_days"),
        F.expr(
            f"CAST({_PC_USL - _PC_LSL} AS DOUBLE) / NULLIF(6.0 * {sd}, 0)"
        ).alias("cp"),
        F.expr(
            f"LEAST({_PC_USL}.0 - sx / nn, sx / nn - {_PC_LSL}.0)"
            f" / NULLIF(3.0 * {sd}, 0)"
        ).alias("cpk"),
    )


# ---------------------------------------------------------------------------
# Chain-ladder development factors on monthly revenue cohorts
# ---------------------------------------------------------------------------

_CL_MAX_LAG = 36


@register(
    "chain_ladder_factors",
    "Chain-ladder development factors over (order-month cohort x "
    "ship-month lag) revenue triangles — the actuarial run-off view "
    "of fulfillment: cumulative cohort revenue C[i,l] from exact "
    "dollar sums (window over the BOUNDED cohort-x-lag table, "
    f"<= months x {_CL_MAX_LAG} rows at any SF), factor f_l = "
    "sum_i C[i,l+1] / sum_i C[i,l] over cohorts observed at both "
    "lags — reported as the exact ppm integral (HUGEINT//DECIMAL "
    "DIV, rule 36) AND the one-division double. Lags are clamped to "
    f"[0, {_CL_MAX_LAG}] (this corpus ships synthetic dates in both "
    "directions — same posture as process_capability_leadtime). One "
    "join + one grouped aggregate at data scale; everything after is "
    "bounded-table algebra.",
    f"""
    WITH d AS (
      SELECT (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS cohort,
             (year(l.l_shipdate) * 12 + month(l.l_shipdate))
               - (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS lag,
             CAST(round(l.l_extendedprice) AS BIGINT) AS rev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    inc AS (
      SELECT cohort, lag, CAST(SUM(rev) AS BIGINT) AS inc_rev
      FROM d WHERE lag >= 0 AND lag <= {_CL_MAX_LAG}
      GROUP BY cohort, lag
    ),
    cum AS (
      SELECT cohort, lag,
             CAST(SUM(inc_rev) OVER (PARTITION BY cohort ORDER BY lag
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
      FROM inc
    ),
    pairs AS (
      SELECT a.lag AS lag, a.c AS c_curr, b.c AS c_next
      FROM cum a JOIN cum b
        ON b.cohort = a.cohort AND b.lag = a.lag + 1
    ),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_cohorts,
             CAST(SUM(c_curr) AS BIGINT) AS c_curr,
             CAST(SUM(c_next) AS BIGINT) AS c_next
      FROM pairs GROUP BY lag
    )
    SELECT lag, n_cohorts, c_curr, c_next,
           CAST(CAST(c_next AS HUGEINT) * 1000000 // c_curr AS BIGINT)
             AS factor_ppm,
           CAST(c_next AS DOUBLE) / CAST(c_curr AS DOUBLE) AS dev_factor
    FROM s
    """,
)
def q_chain_ladder_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)").alias(
            "cohort"
        ),
        F.expr(
            "(year(l_shipdate) * 12 + month(l_shipdate))"
            " - (year(o_orderdate) * 12 + month(o_orderdate))"
        ).alias("lag"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("rev"),
    )
    inc = (
        d.filter((F.col("lag") >= 0) & (F.col("lag") <= _CL_MAX_LAG))
        .groupBy("cohort", "lag")
        .agg(F.sum("rev").cast("bigint").alias("inc_rev"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = inc.select(
        "cohort", "lag", F.sum("inc_rev").over(w).cast("bigint").alias("c")
    )
    # r11: the (lag, lag+1) pairing is lead() over the SAME (cohort, lag)
    # window partitioning the cumsum just established — no second
    # shuffle, and no self-join consuming cum from two plan branches
    # (which re-ran the fact-scale lineitem⋈orders rollup once per arm —
    # CLAUDE.md multi-consumer rule). A pair exists iff cohort has lag+1
    # observed: lead(lag) == lag + 1 is exactly that test.
    wl = Window.partitionBy("cohort").orderBy("lag")
    pairs = (
        cum.select(
            "lag",
            "c",
            F.lead("lag").over(wl).alias("__nlag"),
            F.lead("c").over(wl).alias("__nc"),
        )
        .filter(F.col("__nlag") == F.col("lag") + 1)
        .select(
            "lag",
            F.col("c").alias("c_curr"),
            F.col("__nc").alias("c_next"),
        )
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohorts"),
        F.sum("c_curr").cast("bigint").alias("c_curr"),
        F.sum("c_next").cast("bigint").alias("c_next"),
    )
    return s.select(
        "lag",
        "n_cohorts",
        "c_curr",
        "c_next",
        F.expr(
            "CAST(CAST(c_next AS DECIMAL(38,0)) * 1000000 DIV c_curr"
            " AS BIGINT)"
        ).alias("factor_ppm"),
        F.expr("CAST(c_next AS DOUBLE) / CAST(c_curr AS DOUBLE)").alias(
            "dev_factor"
        ),
    )


# ---------------------------------------------------------------------------
# Little's law occupancy audit over fulfillment intervals
# ---------------------------------------------------------------------------

_LL_MAX_DUR = 366


@register(
    "littles_law_audit",
    "Little's-law audit (L = lambda * W) of order fulfillment: each "
    "order occupies [orderdate, max line shipdate] (exact epoch-day "
    "integers, durations clamped to the documented plausible window "
    f"[1, {_LL_MAX_DUR}] — synthetic dates run both directions); the "
    "observation window is the CENTRAL HALF of the span so boundary "
    "truncation is real and the identity gap is a measurement, not "
    "zero by construction. L = occupancy-days inside the window / "
    "window days (interval overlap per order — exact integers, no "
    "sweep needed because overlap is closed-form per row), lambda = "
    "arrivals in window / window days, W = mean full duration of "
    "those arrivals; each a ONE-division IEEE tree, gap = "
    "lambda * W - L. One orders-lineitem shuffle for per-order end "
    "dates; window bounds are integral scalars broadcast.",
    f"""
    WITH iv AS (
      SELECT o.o_orderkey,
             epoch_us(o.o_orderdate) // 86400000000 AS s,
             MAX(epoch_us(l.l_shipdate) // 86400000000) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, epoch_us(o.o_orderdate) // 86400000000
    ),
    f AS (
      SELECT s, e, e - s + 1 AS dur FROM iv
      WHERE e >= s AND e - s + 1 <= {_LL_MAX_DUR}
    ),
    b AS (
      SELECT MIN(s) + (MAX(e) - MIN(s) + 1) // 4 AS wlo,
             MAX(e) - (MAX(e) - MIN(s) + 1) // 4 AS whi
      FROM f
    ),
    m AS (
      SELECT wlo, whi, CAST(whi - wlo + 1 AS BIGINT) AS wdays,
             CAST(SUM(GREATEST(LEAST(e, whi) - GREATEST(s, wlo) + 1, 0))
                  AS BIGINT) AS occ,
             CAST(SUM(CASE WHEN s BETWEEN wlo AND whi THEN 1 ELSE 0 END)
                  AS BIGINT) AS arrivals,
             CAST(SUM(CASE WHEN s BETWEEN wlo AND whi THEN dur ELSE 0 END)
                  AS BIGINT) AS arr_dur
      FROM f CROSS JOIN b
      GROUP BY wlo, whi
    )
    SELECT wlo AS window_start_day, whi AS window_end_day, wdays,
           arrivals AS n_arrivals, occ AS occupancy_days,
           CAST(occ AS DOUBLE) / CAST(wdays AS DOUBLE) AS l_avg,
           CAST(arrivals AS DOUBLE) / CAST(wdays AS DOUBLE) AS lambda_day,
           CAST(arr_dur AS DOUBLE) / CAST(arrivals AS DOUBLE) AS w_mean,
           (CAST(arrivals AS DOUBLE) / CAST(wdays AS DOUBLE))
             * (CAST(arr_dur AS DOUBLE) / CAST(arrivals AS DOUBLE))
             - CAST(occ AS DOUBLE) / CAST(wdays AS DOUBLE) AS identity_gap
    FROM m
    """,
)
def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("s"),
        )
        .agg(
            F.max(
                F.expr("unix_micros(l_shipdate) DIV 86400000000")
            ).alias("e")
        )
    )
    f = iv.filter(
        (F.col("e") >= F.col("s"))
        & (F.col("e") - F.col("s") + 1 <= _LL_MAX_DUR)
    ).select("s", "e", (F.col("e") - F.col("s") + 1).alias("dur"))
    b = f.agg(
        F.expr("MIN(s) + (MAX(e) - MIN(s) + 1) DIV 4").alias("wlo"),
        F.expr("MAX(e) - (MAX(e) - MIN(s) + 1) DIV 4").alias("whi"),
    )
    inw = F.col("s").between(F.col("wlo"), F.col("whi"))
    m = (
        f.crossJoin(F.broadcast(b))
        .groupBy("wlo", "whi")
        .agg(
            F.sum(
                F.greatest(
                    F.least(F.col("e"), F.col("whi"))
                    - F.greatest(F.col("s"), F.col("wlo"))
                    + 1,
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("occ"),
            F.sum(F.when(inw, 1).otherwise(0)).cast("bigint").alias("arrivals"),
            F.sum(F.when(inw, F.col("dur")).otherwise(0))
            .cast("bigint")
            .alias("arr_dur"),
        )
    )
    # wdays is group-key algebra, added after the aggregate
    m = m.withColumn("wdays", F.expr("CAST(whi - wlo + 1 AS BIGINT)"))
    return m.select(
        F.col("wlo").alias("window_start_day"),
        F.col("whi").alias("window_end_day"),
        "wdays",
        F.col("arrivals").alias("n_arrivals"),
        F.col("occ").alias("occupancy_days"),
        F.expr("CAST(occ AS DOUBLE) / CAST(wdays AS DOUBLE)").alias("l_avg"),
        F.expr(
            "CAST(arrivals AS DOUBLE) / CAST(wdays AS DOUBLE)"
        ).alias("lambda_day"),
        F.expr(
            "CAST(arr_dur AS DOUBLE) / CAST(arrivals AS DOUBLE)"
        ).alias("w_mean"),
        F.expr(
            "(CAST(arrivals AS DOUBLE) / CAST(wdays AS DOUBLE))"
            " * (CAST(arr_dur AS DOUBLE) / CAST(arrivals AS DOUBLE))"
            " - CAST(occ AS DOUBLE) / CAST(wdays AS DOUBLE)"
        ).alias("identity_gap"),
    )


# ---------------------------------------------------------------------------
# Unit-price dispersion audit per part
# ---------------------------------------------------------------------------

_PD_MIN_LINES = 5


@register(
    "price_dispersion_by_part",
    "Unit-price dispersion audit: per part, the exact integral unit "
    "price per line (extended cents DIV integral quantity — the "
    "truncation is defined into the audit), min/max across lines, "
    "and relative spread (max-min)*1e6 DIV min in ppm; top-20 most "
    "dispersed parts with >= 5 lines. The pricing-governance query "
    "that flags a part selling at 2x its own floor — "
    "discount_elasticity_by_brand explains dispersion, this one "
    "FINDS it. One shuffle on partkey (min/max/count are map-side "
    "combinable); TakeOrdered top-20 with (spread DESC, partkey) "
    "total order (rule 20).",
    f"""
    WITH u AS (
      SELECT l_partkey AS pk,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               // CAST(round(l_quantity) AS BIGINT) AS unit_cents
      FROM lineitem
      WHERE round(l_quantity) > 0
    ),
    s AS (
      SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_lines,
             MIN(unit_cents) AS min_cents, MAX(unit_cents) AS max_cents
      FROM u GROUP BY pk
      HAVING COUNT(*) >= {_PD_MIN_LINES}
    )
    SELECT pk AS p_partkey, n_lines, min_cents, max_cents,
           (max_cents - min_cents) * 1000000 // min_cents AS spread_ppm
    FROM s
    ORDER BY spread_ppm DESC, pk
    LIMIT 20
    """,
)
def q_price_dispersion_by_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    u = li.filter(F.expr("round(l_quantity) > 0")).select(
        F.col("l_partkey").alias("pk"),
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT)"
            " DIV CAST(round(l_quantity) AS BIGINT)"
        ).alias("unit_cents"),
    )
    s = (
        u.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("unit_cents").alias("min_cents"),
            F.max("unit_cents").alias("max_cents"),
        )
        .filter(F.col("n_lines") >= _PD_MIN_LINES)
    )
    return (
        s.select(
            F.col("pk").alias("p_partkey"),
            "n_lines",
            "min_cents",
            "max_cents",
            F.expr(
                "(max_cents - min_cents) * 1000000 DIV min_cents"
            ).alias("spread_ppm"),
        )
        .orderBy(F.col("spread_ppm").desc(), "p_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Location quotients: nation x brand revenue specialization
# ---------------------------------------------------------------------------

_LQ_MIN_LINES = 20


@register(
    "shift_share_location_quotient",
    "Location quotients of brand revenue by customer nation — the "
    "regional-economics specialization measure: LQ = (local brand "
    "share) / (global brand share) computed as ONE exact integral "
    "ppm (rev_nb * rev_total * 1e6) DIV (rev_n * rev_b) riding "
    "HUGEINT/DECIMAL(38,0) (rule 36) so the top-20 specialization "
    "ranking is bit-stable; cells under 20 lines suppressed as "
    "noise. Says WHERE a brand over-indexes, which "
    "market_concentration_hhi (how concentrated) and "
    "nation_revenue_share (how big) don't. Margins ride windows "
    "over the bounded 625-cell grid; one fact-scale shuffle.",
    f"""
    WITH cells AS (
      SELECT n.n_name AS nation, p.p_brand AS brand,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(round(l.l_extendedprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, p.p_brand
    ),
    m AS (
      SELECT nation, brand, n_lines, rev,
             CAST(SUM(rev) OVER (PARTITION BY nation) AS BIGINT) AS rev_n,
             CAST(SUM(rev) OVER (PARTITION BY brand) AS BIGINT) AS rev_b
      FROM cells
    ),
    tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS rev_t FROM cells)
    SELECT nation, brand, n_lines, rev,
           CAST(CAST(rev AS HUGEINT) * rev_t * 1000000
                // (CAST(rev_n AS HUGEINT) * rev_b) AS BIGINT) AS lq_ppm
    FROM m CROSS JOIN tot
    WHERE n_lines >= {_LQ_MIN_LINES}
    ORDER BY lq_ppm DESC, nation, brand
    LIMIT 20
    """,
)
def q_shift_share_location_quotient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    cells = checkpoint(
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice")).cast("bigint"))
            .cast("bigint")
            .alias("rev"),
        )
        # r11: cells feeds TWO consumers (the margins branch and the
        # grand-total scalar) — un-materialized, the 4-way fact join +
        # rollup executes twice (CLAUDE.md multi-consumer rule). The
        # checkpoint is a bounded 625-cell table.
    )
    m = cells.select(
        "nation",
        "brand",
        "n_lines",
        "rev",
        F.sum("rev")
        .over(Window.partitionBy("nation"))
        .cast("bigint")
        .alias("rev_n"),
        F.sum("rev")
        .over(Window.partitionBy("brand"))
        .cast("bigint")
        .alias("rev_b"),
    )
    tot = cells.agg(F.sum("rev").cast("bigint").alias("rev_t"))
    return (
        m.crossJoin(F.broadcast(tot))
        .filter(F.col("n_lines") >= _LQ_MIN_LINES)
        .select(
            "nation",
            "brand",
            "n_lines",
            "rev",
            F.expr(
                "CAST(CAST(rev AS DECIMAL(38,0)) * rev_t * 1000000"
                " DIV (CAST(rev_n AS DECIMAL(38,0)) * rev_b) AS BIGINT)"
            ).alias("lq_ppm"),
        )
        .orderBy(F.col("lq_ppm").desc(), "nation", "brand")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Month-end loading forensics
# ---------------------------------------------------------------------------


@register(
    "month_end_loading",
    "Month-end loading forensics: per calendar month, the revenue "
    "share booked in the last 3 days vs the calendar-expected share "
    "3/days-in-month — the revenue-recognition red flag (quota "
    "stuffing, channel loading) auditors test first. Both shares "
    "and the loading ratio are exact truncating fixed point "
    "(HUGEINT/DECIMAL for share*1e6 products past 2^63 at sf100); "
    "last_day() month lengths are engine-identical calendar "
    "arithmetic. The intra-month twin of cents_digit_uniformity "
    "(digits) and benford_leading_digit (magnitudes). One "
    "conditional-aggregate scan, month-bounded output.",
    """
    WITH d AS (
      SELECT (year(o_orderdate) * 100 + month(o_orderdate)) AS ym,
             CAST(day(last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
               AS dim,
             CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dom,
             CAST(round(o_totalprice) AS BIGINT) AS rev
      FROM orders
    ),
    m AS (
      SELECT ym, CAST(MAX(dim) AS BIGINT) AS days_in_month,
             CAST(SUM(rev) AS BIGINT) AS rev_total,
             CAST(SUM(CASE WHEN dom > dim - 3 THEN rev ELSE 0 END)
                  AS BIGINT) AS rev_last3
      FROM d GROUP BY ym
    )
    SELECT ym, days_in_month, rev_total, rev_last3,
           CAST(CAST(rev_last3 AS HUGEINT) * 1000000 // rev_total
                AS BIGINT) AS last3_ppm,
           3000000 // days_in_month AS expected_ppm,
           CAST(CAST(rev_last3 AS HUGEINT) * 1000000 // rev_total
                AS BIGINT) * 1000000
             // (3000000 // days_in_month) AS loading_ratio_ppm
    FROM m
    """,
)
def q_month_end_loading(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.expr(
            "year(o_orderdate) * 100 + month(o_orderdate)"
        ).alias("ym"),
        F.expr(
            "CAST(day(last_day(CAST(o_orderdate AS DATE))) AS BIGINT)"
        ).alias("dim"),
        F.expr("CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT)").alias(
            "dom"
        ),
        F.round(F.col("o_totalprice")).cast("bigint").alias("rev"),
    )
    m = d.groupBy("ym").agg(
        F.max("dim").cast("bigint").alias("days_in_month"),
        F.sum("rev").cast("bigint").alias("rev_total"),
        F.sum(
            F.when(F.col("dom") > F.col("dim") - 3, F.col("rev")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("rev_last3"),
    )
    return m.select(
        "ym",
        "days_in_month",
        "rev_total",
        "rev_last3",
        F.expr(
            "CAST(CAST(rev_last3 AS DECIMAL(38,0)) * 1000000"
            " DIV rev_total AS BIGINT)"
        ).alias("last3_ppm"),
        F.expr("3000000 DIV days_in_month").alias("expected_ppm"),
        F.expr(
            "CAST(CAST(rev_last3 AS DECIMAL(38,0)) * 1000000"
            " DIV rev_total AS BIGINT) * 1000000"
            " DIV (3000000 DIV days_in_month)"
        ).alias("loading_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# Monthly VWAP per brand
# ---------------------------------------------------------------------------


@register(
    "vwap_monthly_by_brand",
    "Volume-weighted average unit price per (ship month, brand): "
    "sum(extended cents) DIV sum(integral quantity) — extendedprice "
    "is already unit price x quantity, so the ratio IS the exact "
    "quantity-weighted mean unit price in truncated cents (the "
    "execution-quality benchmark twap_user_value computes over TIME; "
    "this weights by VOLUME). One join + one grouped aggregate, "
    "map-side combinable; month x 25-brand bounded output.",
    """
    WITH l AS (
      SELECT (year(l.l_shipdate) * 100 + month(l.l_shipdate)) AS ym,
             p.p_brand AS brand,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT ym, brand,
           CAST(SUM(qty) AS BIGINT) AS total_qty,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(SUM(cents) AS BIGINT) // CAST(SUM(qty) AS BIGINT)
             AS vwap_cents
    FROM l GROUP BY ym, brand
    """,
)
def q_vwap_monthly_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    l = li.join(p, li.l_partkey == p.p_partkey).select(
        F.expr("year(l_shipdate) * 100 + month(l_shipdate)").alias("ym"),
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    return l.groupBy("ym", "brand").agg(
        F.sum("qty").cast("bigint").alias("total_qty"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST(SUM(cents) AS BIGINT) DIV CAST(SUM(qty) AS BIGINT)"
        ).alias("vwap_cents"),
    )


# ---------------------------------------------------------------------------
# Brand cannibalization: most negative weekly revenue correlations
# ---------------------------------------------------------------------------

_BC_R = (
    "((sxyd - sxd * syd / nd)"
    " / (sqrt(sxxd - sxd * sxd / nd) * sqrt(syyd - syd * syd / nd)))"
)


@register(
    "brand_cannibalization_pairs",
    "Brand cannibalization screen: the 10 most NEGATIVELY correlated "
    "brand pairs by weekly revenue (when one wins a week, the other "
    "loses it) — the assortment-planning signal that "
    "copurchase_part_pairs (complements) is blind to. The weekly "
    "brand series is calendar-bounded, so the 300-pair grid x weeks "
    "join is bounded-table algebra after ONE fact-scale rollup; "
    "per-pair Pearson r uses exact dollar moments (sums of squares "
    "ride HUGEINT/DECIMAL with rule-35 splits) and one shared IEEE "
    "tree; zero-variance pairs are excluded exactly (integer "
    "variance numerators). (r ASC, brand pair) total order (rule "
    "20).",
    f"""
    WITH wb AS (
      SELECT (epoch_us(l.l_shipdate) // {_DAY}) // 7 AS wk,
             p.p_brand AS brand,
             CAST(SUM(CAST(round(l.l_extendedprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY (epoch_us(l.l_shipdate) // {_DAY}) // 7, p.p_brand
    ),
    pr AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.rev) AS BIGINT) AS sx,
             CAST(SUM(b.rev) AS BIGINT) AS sy,
             SUM(CAST(a.rev AS HUGEINT) * a.rev) AS sxx,
             SUM(CAST(b.rev AS HUGEINT) * b.rev) AS syy,
             SUM(CAST(a.rev AS HUGEINT) * b.rev) AS sxy
      FROM wb a JOIN wb b ON b.wk = a.wk AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    ),
    v AS (
      SELECT brand_a, brand_b, n,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vx_i,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vy_i
      FROM pr
    ),
    e AS (
      SELECT p.brand_a, p.brand_b, p.n,
             CAST(p.n AS DOUBLE) AS nd,
             CAST(p.sx AS DOUBLE) AS sxd, CAST(p.sy AS DOUBLE) AS syd,
             {_du('p.sxx')} AS sxxd, {_du('p.syy')} AS syyd,
             {_du('p.sxy')} AS sxyd
      FROM pr p JOIN v ON v.brand_a = p.brand_a AND v.brand_b = p.brand_b
      WHERE v.vx_i > 0 AND v.vy_i > 0
    )
    SELECT brand_a, brand_b, n AS n_weeks,
           {_BC_R} AS pearson_r
    FROM e
    ORDER BY {_BC_R} ASC, brand_a, brand_b
    LIMIT 10
    """,
)
def q_brand_cannibalization_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    wb = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.expr(f"(unix_micros(l_shipdate) DIV {_DAY}) DIV 7").alias(
                "wk"
            ),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice")).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    # r11: the oracle's wb-self-join consumed the fact-scale wb rollup
    # from two plan branches — Catalyst re-ran lineitem⋈part + agg once
    # per arm (CLAUDE.md multi-consumer rule). The brand set per week is
    # bounded (25 brands), so Spark-side we collect each week's (brand,
    # rev) rows into an array and generate the a.brand < b.brand pairs
    # in-row: wb is consumed ONCE, fan-out ≤ 25·24/2 per week, and the
    # weekly grid join disappears. Moment expressions are unchanged.
    per_week = wb.groupBy("wk").agg(
        F.collect_list(F.struct("brand", "rev")).alias("br")
    )
    pairs = per_week.select(
        F.explode(
            F.expr(
                "flatten(transform(br, x -> transform("
                " filter(br, y -> y.brand > x.brand),"
                " y -> struct(x.brand AS brand_a, y.brand AS brand_b,"
                " x.rev AS ra, y.rev AS rb))))"
            )
        ).alias("pw")
    ).select("pw.brand_a", "pw.brand_b", "pw.ra", "pw.rb")
    pr = pairs.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").cast("bigint").alias("sx"),
        F.sum("rb").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(ra AS DECIMAL(38,0)) * ra")).alias("sxx"),
        F.sum(F.expr("CAST(rb AS DECIMAL(38,0)) * rb")).alias("syy"),
        F.sum(F.expr("CAST(ra AS DECIMAL(38,0)) * rb")).alias("sxy"),
    )
    v = pr.withColumn(
        "vx_i",
        F.expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"),
    ).withColumn(
        "vy_i",
        F.expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"),
    )
    e = v.filter((F.col("vx_i") > 0) & (F.col("vy_i") > 0)).select(
        "brand_a",
        "brand_b",
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.expr(_sp("sxx")).alias("sxxd"),
        F.expr(_sp("syy")).alias("syyd"),
        F.expr(_sp("sxy")).alias("sxyd"),
    )
    return (
        e.select(
            "brand_a",
            "brand_b",
            F.col("n").alias("n_weeks"),
            F.expr(_BC_R).alias("pearson_r"),
        )
        .orderBy(F.col("pearson_r").asc(), "brand_a", "brand_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Accounts-receivable style aging buckets
# ---------------------------------------------------------------------------


@register(
    "ar_aging_buckets",
    "Aging-bucket report: orders bucketed by age at the snapshot "
    "date (the newest order date — deterministic stand-in for "
    "'today') into 0-30 / 31-60 / 61-90 / 91+ days, by priority, "
    "with counts and exact dollar totals — the AR-aging staple "
    "every finance close runs, and the age-structure complement of "
    "revenue_wow_growth (flow) and semi_additive_balance_monthly "
    "(stock). Pure integer epoch-day arithmetic; one conditional "
    "pass; 20-row bounded output.",
    f"""
    WITH snap AS (
      SELECT MAX(epoch_us(o_orderdate) // {_DAY}) AS today
      FROM orders
    ),
    a AS (
      SELECT o_orderpriority AS priority,
             CASE
               WHEN today - epoch_us(o_orderdate) // {_DAY} <= 30
                 THEN '0-30'
               WHEN today - epoch_us(o_orderdate) // {_DAY} <= 60
                 THEN '31-60'
               WHEN today - epoch_us(o_orderdate) // {_DAY} <= 90
                 THEN '61-90'
               ELSE '91+' END AS age_bucket,
             CAST(round(o_totalprice) AS BIGINT) AS rev
      FROM orders CROSS JOIN snap
    )
    SELECT priority, age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(rev) AS BIGINT) AS revenue_dollars
    FROM a GROUP BY priority, age_bucket
    """,
)
def q_ar_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    snap = o.agg(
        F.max(F.expr(f"unix_micros(o_orderdate) DIV {_DAY}")).alias(
            "today"
        )
    )
    age = F.expr(f"today - unix_micros(o_orderdate) DIV {_DAY}")
    a = o.crossJoin(F.broadcast(snap)).select(
        F.col("o_orderpriority").alias("priority"),
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("91+")
        .alias("age_bucket"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("rev"),
    )
    return a.groupBy("priority", "age_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("rev").cast("bigint").alias("revenue_dollars"),
    )


# ---------------------------------------------------------------------------
# ABC-XYZ inventory segmentation of parts
# ---------------------------------------------------------------------------

# ABC: cumulative revenue share thresholds (ppm); XYZ: CV^2 thresholds
# (ppm of squared coefficient of variation of weekly demand)
_AX_A = 700_000
_AX_B = 900_000
_AX_X = 250_000   # CV < 0.5
_AX_Y = 1_000_000  # CV < 1.0


@register(
    "abc_xyz_classification",
    "ABC-XYZ inventory segmentation matrix: parts classed A/B/C by "
    "cumulative revenue share (70%/90% ppm thresholds on the exact "
    "integer prefix sum in (revenue DESC, partkey) order — computed "
    "by two_phase_scan with an empty group list, so the "
    "global ranking costs bucketed windows plus a bounded offset "
    "table, never a fact-scale single-partition sort) and X/Y/Z by "
    "weekly-demand variability (sqrt-free CV^2 in ppm = "
    "(n*sum(q^2) - S^2)*1e6 DIV S^2, thresholds CV<0.5 / CV<1.0 — "
    "integer-vs-integer comparisons, bit-identical classes). The "
    "planning matrix behind safety-stock policy: AX = automate, "
    "CZ = don't bother. Output: the 9-cell census with part counts "
    "and revenue.",
    f"""
    WITH pw AS (
      SELECT l_partkey AS pk,
             (epoch_us(l_shipdate) // {_DAY}) // 7 AS wk,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(SUM(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM lineitem GROUP BY l_partkey, (epoch_us(l_shipdate) // {_DAY}) // 7
    ),
    p AS (
      SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_weeks,
             CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS sqq,
             CAST(SUM(rev) AS BIGINT) AS rev
      FROM pw GROUP BY pk
    ),
    tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS rev_t FROM p),
    cum AS (
      SELECT pk, rev, n_weeks, sq, sqq,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, pk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS crev
      FROM p
    ),
    cls AS (
      SELECT CASE
               WHEN CAST(c.crev AS HUGEINT) * 1000000 // t.rev_t
                    <= {_AX_A} THEN 'A'
               WHEN CAST(c.crev AS HUGEINT) * 1000000 // t.rev_t
                    <= {_AX_B} THEN 'B'
               ELSE 'C' END AS abc,
             CASE
               WHEN c.n_weeks < 2 THEN 'Z'
               WHEN (CAST(c.n_weeks AS HUGEINT) * c.sqq
                     - CAST(c.sq AS HUGEINT) * c.sq) * 1000000
                    // (CAST(c.sq AS HUGEINT) * c.sq) <= {_AX_X} THEN 'X'
               WHEN (CAST(c.n_weeks AS HUGEINT) * c.sqq
                     - CAST(c.sq AS HUGEINT) * c.sq) * 1000000
                    // (CAST(c.sq AS HUGEINT) * c.sq) <= {_AX_Y} THEN 'Y'
               ELSE 'Z' END AS xyz,
             c.rev
      FROM cum c CROSS JOIN tot t
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS revenue_dollars
    FROM cls GROUP BY abc, xyz
    """,
)
def q_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pw = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.expr(f"(unix_micros(l_shipdate) DIV {_DAY}) DIV 7").alias("wk"),
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint"))
        .cast("bigint")
        .alias("q"),
        F.sum(F.round(F.col("l_extendedprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    )
    p = pw.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
        F.sum("rev").cast("bigint").alias("rev"),
    )
    # global (rev DESC, pk) prefix sum without a single-partition sort:
    # order by the negated key so the coarse bucket stays order-aligned
    # crev_total (total revenue) comes off the scan's bucket table — no
    # second pass over the fact-scale lineitem rollup
    # NOTE the barrier pays here: the scan's bucket table and local
    # scan each read p, a two-level rollup of lineitem, so without it
    # both re-run the rollup. Barrier vs none (sf0.1, local[4], build +
    # spark_digest, memos cleared, alternating runs, medians): 3.24 vs
    # 3.98 s, barrier faster in 5 of 6 pairs; three earlier A/Bs read
    # 3.54 vs 4.02 s (4 of 6), 2.99 vs 3.18 s (3 of 6) and 3.17 vs
    # 3.44 s (7 of 10). Building fires the rollup's 2 AQE stages.
    coarse = F.expr("neg_rev DIV 1000000")
    spec = ("crev", ["neg_rev", "pk"], coarse, F.col("rev"), "sum", False)
    cum = two_phase_scan(
        checkpoint(p.withColumn("neg_rev", -F.col("rev"))), [], [spec]
    ).withColumnRenamed("crev_total", "rev_t")
    cv2 = (
        "(CAST(n_weeks AS DECIMAL(38,0)) * sqq"
        " - CAST(sq AS DECIMAL(38,0)) * sq) * 1000000"
        " DIV (CAST(sq AS DECIMAL(38,0)) * sq)"
    )
    cls = cum.select(
        F.expr(
            f"CASE WHEN CAST(crev AS DECIMAL(38,0)) * 1000000 DIV rev_t"
            f" <= {_AX_A} THEN 'A'"
            f" WHEN CAST(crev AS DECIMAL(38,0)) * 1000000 DIV rev_t"
            f" <= {_AX_B} THEN 'B' ELSE 'C' END"
        ).alias("abc"),
        F.expr(
            f"CASE WHEN n_weeks < 2 THEN 'Z'"
            f" WHEN {cv2} <= {_AX_X} THEN 'X'"
            f" WHEN {cv2} <= {_AX_Y} THEN 'Y'"
            f" ELSE 'Z' END"
        ).alias("xyz"),
        "rev",
    )
    return cls.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("rev").cast("bigint").alias("revenue_dollars"),
    )


# ---------------------------------------------------------------------------
# Single-sourcing risk census
# ---------------------------------------------------------------------------


@register(
    "single_sourcing_risk_census",
    "Single-sourcing risk census: per part, the volume share of its "
    "LARGEST supplier (exact ppm, max_by with (qty DESC, suppkey) "
    "total order over the per-(part, supplier) rollup), bucketed "
    "into concentration decile bands — the procurement-risk "
    "distribution that says how much of the catalog would stall if "
    "one supplier failed (q20/q21 find specific suppliers; this "
    "sizes the exposure). Two shuffles (part-supplier rollup, part "
    "rollup), bounded 10-row output.",
    """
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    p AS (
      SELECT pk,
             CAST(SUM(q) AS BIGINT) AS total_q,
             CAST(MAX(q) AS BIGINT) AS top_q
      FROM ps GROUP BY pk
    ),
    sh AS (
      SELECT pk, top_q * 1000000 // total_q AS share_ppm
      FROM p WHERE total_q > 0
    )
    SELECT LEAST(share_ppm // 100000, 9) AS share_decile,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM sh
    GROUP BY LEAST(share_ppm // 100000, 9)
    """,
)
def q_single_sourcing_risk_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint"))
        .cast("bigint")
        .alias("q")
    )
    p = ps.groupBy("pk").agg(
        F.sum("q").cast("bigint").alias("total_q"),
        F.max("q").cast("bigint").alias("top_q"),
    )
    sh = p.filter(F.col("total_q") > 0).select(
        "pk", F.expr("top_q * 1000000 DIV total_q").alias("share_ppm")
    )
    return sh.groupBy(
        F.expr("LEAST(share_ppm DIV 100000, 9)").alias("share_decile")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))


# ---------------------------------------------------------------------------
# Supplier lead-time league table
# ---------------------------------------------------------------------------

_SL_MAX_DUR = 365
_SL_MIN_LINES = 20


@register(
    "supplier_leadtime_league",
    "Supplier lead-time league table: per supplier, line volume, the "
    "DISCRETE median fulfillment lead time (order statistic at rank "
    "(n+1) DIV 2 — suppliers scale with SF in THIS synthetic schema, "
    "but lines-per-supplier stays ~O(600) at every SF, so the "
    "per-supplier windows are bounded by construction) and the "
    "on-time-within-30-days share in exact ppm; suppliers under 20 "
    "lines suppressed. Lead days clamped to the documented [0, 365] "
    "plausible window (process_capability_leadtime's posture). The "
    "vendor scorecard q15/q21 (extremes) don't give: the whole "
    "ranked distribution.",
    f"""
    WITH d AS (
      SELECT l.l_suppkey AS sk,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // {_DAY} AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    f AS (
      SELECT sk, days FROM d WHERE days >= 0 AND days <= {_SL_MAX_DUR}
    ),
    r AS (
      SELECT sk, days,
             ROW_NUMBER() OVER (PARTITION BY sk ORDER BY days) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY sk) AS BIGINT) AS n
      FROM f
    ),
    med AS (
      SELECT sk, n AS n_lines, MAX(days) AS median_days
      FROM r WHERE rn = (n + 1) // 2 GROUP BY sk, n
    ),
    ontime AS (
      SELECT sk,
             CAST(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ontime
      FROM f GROUP BY sk
    )
    SELECT m.sk AS s_suppkey, m.n_lines, m.median_days,
           o.n_ontime * 1000000 // m.n_lines AS ontime_30d_ppm
    FROM med m JOIN ontime o ON o.sk = m.sk
    WHERE m.n_lines >= {_SL_MIN_LINES}
    """,
)
def q_supplier_leadtime_league(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("sk"),
        F.expr(
            f"(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
            f" DIV {_DAY}"
        ).alias("days"),
    )
    f = d.filter((F.col("days") >= 0) & (F.col("days") <= _SL_MAX_DUR))
    wsk = Window.partitionBy("sk")
    r = f.select(
        "sk",
        "days",
        F.row_number().over(wsk.orderBy("days")).alias("rn"),
        F.count(F.lit(1)).over(wsk).cast("bigint").alias("n"),
    )
    med = (
        r.filter(F.expr("rn = (n + 1) DIV 2"))
        .groupBy("sk", F.col("n").alias("n_lines"))
        .agg(F.max("days").alias("median_days"))
    )
    ontime = f.groupBy("sk").agg(
        F.sum(F.when(F.col("days") <= 30, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ontime")
    )
    return (
        med.join(ontime, "sk")
        .filter(F.col("n_lines") >= _SL_MIN_LINES)
        .select(
            F.col("sk").alias("s_suppkey"),
            "n_lines",
            "median_days",
            F.expr("n_ontime * 1000000 DIV n_lines").alias(
                "ontime_30d_ppm"
            ),
        )
    )
