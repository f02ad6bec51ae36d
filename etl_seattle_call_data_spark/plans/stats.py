"""Statistical estimators, tests and sampling over the relational tables.

Cross-sectional statistics: distributions, histograms and quantiles,
correlation and regression, two-sample and rank tests, robust
estimators, concentration indices, experiment readouts (A/B tests,
CUPED, difference-in-differences, uplift, power analysis), sketches
with measured error, and deterministic sampling schemes.

docs/CROSS_ENGINE.md rules throughout: exact integer/DECIMAL moments
with one shared IEEE tree per float (quotient+remainder splits past
2^53), truncating ``DIV`` defined into every fixed-point statistic,
discrete percentiles wherever a quantile re-enters arithmetic, and
(rank, unique-id) total orders for every order statistic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq, ranking, sampling
from etl_seattle_call_data_spark.operators.ranking import (
    two_phase_rank,
    two_phase_rank_in_groups,
)
from etl_seattle_call_data_spark.operators.sampling import hash_bucket
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import (
    _DAY,
    _SPLIT_DUCK,
    _SPLIT_SPARK,
    _cents,
    _du,
    _hash_mod,
    _sp,
    _split_double,
)
from etl_seattle_call_data_spark.sources.registry import load_table


@register(
    "sample_hash_orders",
    "Deterministic 10% sample of orders via the portable md5-prefix hash "
    "— reproducible across engines/runs/partitionings (df.sample is "
    "not), pure narrow filter, no shuffle (operators/sampling.py).",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10
    """,
)
def q_sample_hash_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return sampling.hash_sample(o, "o_orderkey", percent=10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "sample_stratified_events",
    "EXACT stratified sample: ceil(10%) of every event_type stratum, "
    "members chosen by lowest portable hash — per-stratum counts are "
    "guaranteed, unlike sampleBy (operators/sampling.py).",
    """
    SELECT event_id, event_type FROM (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM (SELECT event_id, event_type,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                     % 2147483648 AS h
            FROM events)
    ) WHERE rn <= (n + 9) // 10
    """,
)
def q_sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sampling.stratified_sample(
        ev, stratum_col="event_type", key_col="event_id", fraction_denom=10
    ).select("event_id", "event_type")


@register(
    "histogram_order_totals",
    "Numeric histogram: fixed-width (50k) binning of order totals with "
    "per-bin count and bounds — one groupBy on the computed bin, "
    "map-side partial aggregation.",
    """
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS bin_min,
           MAX(o_totalprice) AS bin_max
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("bin", F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("bigint"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("bin_min"),
            F.max("o_totalprice").alias("bin_max"),
        )
    )


@register(
    "approx_percentile_rank_bounds",
    "Sketch median (percentile_approx, accuracy 1000) per event type, "
    "validated by its rank guarantee: the count of values ≤ the sketch "
    "median must sit within n/100 of n/2. Exact columns + the derived "
    "bound flag make the sketch oracle-checkable (same device as "
    "approx_distinct_users).",
    """
    SELECT event_type, COUNT(*) AS n, TRUE AS rank_ok
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_percentile_rank_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketch = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("ap50"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        ev.join(F.broadcast(sketch), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(F.col("value") <= F.col("ap50"), 1).otherwise(0)).alias("cnt_le"),
        )
    )
    rank_ok = (
        F.abs(F.col("cnt_le").cast("double") - F.col("n").cast("double") / 2)
        <= F.col("n").cast("double") / 100 + 1
    )
    return ranked.select("event_type", "n", rank_ok.alias("rank_ok"))


# ---------------------------------------------------------------------------
# Percentiles & approximate aggregates
# ---------------------------------------------------------------------------


@register(
    "percentiles_by_event_type",
    "Exact continuous percentiles (p25/p50/p75) + min/max of event value "
    "per type — Spark percentile() ≡ DuckDB quantile_cont (verified "
    "bit-identical interpolation).",
    """
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.50) AS p50,
           quantile_cont(value, 0.75) AS p75,
           min(value) AS v_min,
           max(value) AS v_max
    FROM events
    GROUP BY event_type
    """,
)
def q_percentiles_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("p25"),
        F.percentile("value", 0.50).alias("p50"),
        F.percentile("value", 0.75).alias("p75"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


@register(
    "approx_distinct_users",
    "HyperLogLog++ approximate distinct users per event type beside the "
    "exact count — the sketch path for 100 TB cardinalities where exact "
    "distinct would shuffle every key. Oracle-checkable despite the "
    "bounded-error sketch: the output carries the exact columns plus a "
    "derived approx_within_bounds flag (|approx−exact|/exact ≤ 3·rsd, the "
    "HLL++ guarantee), which the oracle asserts as TRUE.",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           count(*) AS n_events,
           TRUE AS approx_within_bounds
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.01
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("n_users_approx"),
        F.count_distinct("user_id").alias("n_users_exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    within = (
        F.abs(F.col("n_users_approx") - F.col("n_users_exact")).cast("double")
        / F.col("n_users_exact").cast("double")
        <= F.lit(3 * rsd)
    )
    return agg.select(
        "event_type", "n_users_exact", "n_events", within.alias("approx_within_bounds")
    )


@register(
    "regression_value_by_hour",
    "Per-group exact OLS: slope/intercept of (quantized) event value vs "
    "hours-since-epoch-start, computed from exact integer moment sums "
    "(n, Σx, Σy, Σxy, Σx²) in one partial-agg shuffle — the closed form "
    "engines' regr_slope uses, but with bit-deterministic accumulation "
    "(float sums would hash-differ across engines/partition orders).",
    """
    WITH m AS (
      SELECT event_type,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200) // 3600 AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM m GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                ELSE 0.0 END AS slope_q,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN (CAST(sy AS DOUBLE)
                      - CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE)
                ELSE 0.0 END AS intercept_q
    FROM s
    """,
)
def q_regression_value_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = F.floor((F.col("ts").cast("long") - F.lit(1704067200)) / F.lit(3600)).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    m = ev.select("event_type", x.alias("x"), y.alias("y"))
    s = m.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    numer = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = numer.cast("double") / denom.cast("double")
    return s.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.when(denom != 0, slope).otherwise(F.lit(0.0)).alias("slope_q"),
        F.when(
            denom != 0,
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("intercept_q"),
    )


@register(
    "anomaly_zscore_events",
    "Statistical outlier flagging: per event_type mean/std, then z = "
    "(v − mean)/std flags |z| > 3. The 5-row stats table broadcasts "
    "back onto the event scan. Exactness: values quantize to 1e-6 "
    "longs and the variance numerator is the EXACT integer "
    "n·Σq² − (Σq)² — a float 'svv/n − mean²' is NOT portable (DuckDB "
    "contracts the multiply-subtract into an FMA, the JVM never does, "
    "and the 1-ulp drift flips the driver's value hash). Only "
    "divisions and sqrt (both correctly rounded) happen in floating "
    "point, in the same order on both engines.",
    """
    WITH q AS (
      SELECT event_id, event_type, value,
             CAST(round(value * 1000000.0) AS BIGINT) AS qv
      FROM events
    ),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(qv AS HUGEINT)) AS sq,
             SUM(CAST(qv AS HUGEINT) * CAST(qv AS HUGEINT)) AS sqq
      FROM q GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n,
             CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean,
             sqrt(CAST(CAST(n AS HUGEINT) * sqq - sq * sq AS DOUBLE)
                  / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
                  / 1000000000000.0) AS std
      FROM stats WHERE n >= 2
    )
    SELECT event_id, q.event_type, value,
           (CAST(qv AS DOUBLE) / 1000000.0 - mean) / std AS zscore
    FROM q JOIN m ON q.event_type = m.event_type
    WHERE std > 0.0
      AND abs((CAST(qv AS DOUBLE) / 1000000.0 - mean) / std) > 3.0
    """,
)
def q_anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "qv", F.round(F.col("value") * 1000000.0).cast("long")
    )
    # q ≤ 1e9 ⇒ q² needs 19 digits; decimal(38,0) sums are exact and the
    # variance numerator (~1e28) stays far under the 38-digit ceiling.
    qd = F.col("qv").cast("decimal(19,0)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qv").cast("decimal(38,0)")).alias("sq"),
        F.sum(qd * qd).alias("sqq"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("sq").cast("double") / n_d / F.lit(1000000.0)
    var_num = (
        F.col("n").cast("decimal(38,0)") * F.col("sqq") - F.col("sq") * F.col("sq")
    )
    std = F.sqrt(var_num.cast("double") / n_d / n_d / F.lit(1000000000000.0))
    m = stats.filter(F.col("n") >= 2).select(
        F.col("event_type").alias("m_event_type"),
        mean.alias("mean"),
        std.alias("std"),
    )
    vq_d = F.col("qv").cast("double") / F.lit(1000000.0)
    z = (vq_d - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(m), ev["event_type"] == F.col("m_event_type"))
        .filter((F.col("std") > 0.0) & (F.abs(z) > 3.0))
        .select("event_id", "event_type", "value", z.alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection (median / MAD, outlier-immune)


@register(
    "robust_anomaly_mad",
    "Median-absolute-deviation anomaly screen per event type — the "
    "robust counterpart of the z-score flags (medians don't move when "
    "the outliers they're hunting poison the mean/stddev). Two exact "
    "percentile passes (per-type median, then median of |x−median|; "
    "Spark percentile() ≡ DuckDB quantile_cont, bit-identical "
    "interpolation — same contract percentiles_by_event_type proves) "
    "and an integer count of |x−median| > 3·MAD rows. Two shuffles on "
    "the 5-key type column, both map-side partialed.",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS median_value
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.median_value,
             abs(e.value - m.median_value) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, median_value, quantile_cont(adev, 0.5) AS mad_value
      FROM dev GROUP BY event_type, median_value
    )
    SELECT d.event_type, d.median_value, m.mad_value,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad_value THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, d.median_value, m.mad_value
    """,
)
def q_robust_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("median_value")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("median_value"))
    )
    mad = dev.groupBy("event_type", "median_value").agg(
        F.percentile("adev", 0.5).alias("mad_value")
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad_value")), "event_type")
        .groupBy("event_type", "median_value", "mad_value")
        .agg(
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad_value"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Bitmap presence sketch (bit_or aggregation + popcount)


@register(
    "event_user_bitmap",
    "Bitmap presence sketch per event type: users hash into 62 bucket "
    "bits of one BIGINT (63 would shift into the sign bit — DuckDB "
    "raises, Spark silently wraps negative), presence folds with bit_or (commutative/associative — "
    "map-side partials compose exactly like any monoid agg), "
    "bit_count reads occupancy. The 64-bit fixed-width cousin of a "
    "roaring bitmap index: O(1) state per group regardless of user "
    "count, mergeable across partitions/segments without resorting to "
    "distinct shuffles. Bucket = pmod(xxhash64(user_id), 64) — the "
    "engine's portable hash is not DuckDB-reproducible, so the bucket "
    "uses user_id % 62 here to stay oracle-exact (documented swap).",
    """
    SELECT event_type,
           CAST(bit_or(1 << CAST(user_id % 62 AS BIGINT)) AS BIGINT)
             AS presence_bitmap,
           CAST(bit_count(CAST(bit_or(1 << CAST(user_id % 62 AS BIGINT)) AS BIGINT))
                AS INTEGER) AS buckets_occupied,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact
    FROM events
    GROUP BY event_type
    """,
)
def q_event_user_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # PySpark's shiftleft helper takes only a literal bit count; the SQL
    # form accepts a column expression
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
    bm = F.bit_or(mask)
    return ev.groupBy("event_type").agg(
        bm.cast("long").alias("presence_bitmap"),
        F.bit_count(bm).cast("int").alias("buckets_occupied"),
        F.count_distinct(F.col("user_id")).cast("long").alias("n_users_exact"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (NTILE buckets with per-bucket stats)


@register(
    "equidepth_histogram_totals",
    "Equi-depth (equal-count) histogram of order totals: NTILE(10) "
    "assigns ranked rows to buckets of near-equal population, then "
    "per-bucket min/max/count/decimal-sum describe the distribution — "
    "the complement of the fixed-width histogram (equal RANGES, skewed "
    "counts) and the basis of optimizer column statistics. NTILE ties "
    "are broken by the unique order key, so bucket assignment is total "
    "and cross-engine identical. The Spark side computes the SAME "
    "NTILE assignment via operators/ranking.py's two-phase global "
    "rank — coarse value-buckets (width 1000 → ~600 buckets over the "
    "price range, SF-independent), per-bucket row_number, broadcast "
    "prefix offsets, rank→bucket by the ANSI NTILE formula — so no "
    "stage sorts more than one coarse bucket and the plan carries NO "
    "Exchange SinglePartition (asserted in test_plans.py), versus the "
    "naive windowless ntile() that funnels every row through one task.",
    """
    WITH ranked AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM ranked
    GROUP BY bucket
    """,
)
def q_equidepth_histogram_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked_df, n = ranking.two_phase_rank(
        o,
        order_by=["o_totalprice", "o_orderkey"],
        coarse=F.floor(F.col("o_totalprice") / F.lit(1000.0)),
        rank_name="__grank",
    )
    ranked = ranked_df.select(
        "o_totalprice",
        ranking.equidepth_bucket(F.col("__grank"), n, 10).alias("bucket"),
    )
    return ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of revenue concentration (exact distributed ranking)


@register(
    "gini_revenue_concentration",
    "Gini coefficient of customer revenue concentration — the standard "
    "inequality measure over per-customer order totals, computed from "
    "the EXACT global revenue rank: G = (2·Σ(rank·rev) − (n+1)·Σrev) / "
    "(n·Σrev). The rank comes from operators/ranking.py's two-phase "
    "global rank (coarse revenue buckets + broadcast prefix offsets — "
    "no single-partition sort), every Σ is an exact decimal aggregate, "
    "and the final expression is ONE double division of identical "
    "integers/decimals on both engines. Ties in revenue break on the "
    "unique custkey, so rank·rev sums are cross-engine identical.",
    """
    WITH r AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rnk
      FROM r
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rev) AS s0,
             SUM(rnk * rev) AS s1
      FROM ranked
    )
    SELECT n AS n_customers,
           CAST(s0 AS DOUBLE) AS total_revenue,
           CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / CAST(n * s0 AS DOUBLE)
             AS gini
    FROM s
    """,
)
def q_gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked, n = ranking.two_phase_rank(
        rev,
        order_by=["rev", "o_custkey"],
        coarse=F.floor(F.col("rev") / F.lit(10000)),
        rank_name="rnk",
    )
    s = ranked.agg(
        F.sum("rev").alias("s0"),
        F.sum(F.col("rnk") * F.col("rev")).alias("s1"),
    )
    num = F.lit(2) * F.col("s1") - F.lit(n + 1) * F.col("s0")
    den = F.lit(n) * F.col("s0")
    return s.select(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.col("s0").cast("double").alias("total_revenue"),
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit (fraud/anomaly screen, log-free)


@register(
    "benford_leading_digit",
    "Benford's-law audit of order totals: observed first-significant-"
    "digit distribution vs the Benford expectation — the classic "
    "fabricated-numbers screen. Digit extraction is pure string/integer "
    "work (first char of the integer part — totals are >= 1), counts "
    "are exact, each observed share is ONE IEEE division, and the "
    "Benford expectations are literal constants (no log evaluated at "
    "query time — the repo's log-free rule). One scan, one 9-row "
    "aggregate.",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS DOUBLE) / CAST(n.n_total AS DOUBLE)
             AS observed_share,
           CAST(CASE digit
             WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
             WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
             WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757
           END AS DOUBLE) AS benford_share
    FROM d CROSS JOIN n
    GROUP BY digit, n.n_total
    """,
)
def q_benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING),"
            " 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    benford = (
        F.when(F.col("digit") == 1, 0.301030)
        .when(F.col("digit") == 2, 0.176091)
        .when(F.col("digit") == 3, 0.124939)
        .when(F.col("digit") == 4, 0.096910)
        .when(F.col("digit") == 5, 0.079181)
        .when(F.col("digit") == 6, 0.066947)
        .when(F.col("digit") == 7, 0.057992)
        .when(F.col("digit") == 8, 0.051153)
        .otherwise(0.045757)
    )
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("digit", "n_total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .select(
            "digit",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("n_total").cast("double"))
            .alias("observed_share"),
            benford.alias("benford_share"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (ML feature engineering)


@register(
    "target_encoding_loo",
    "Leave-one-out target encoding of part brand against the return "
    "flag — the high-cardinality-categorical encoder that leaks without "
    "the leave-one-out correction. Exact fixed point: per-row encoding "
    "is ((group_positives - own_target) * 10^6) DIV (group_n - 1); the "
    "evidence output folds the per-row encodings back to per-brand "
    "integer sums split by target class. Plan: one fact-side join to "
    "the part dim (AQE-broadcast), one 25-row group-stats aggregate "
    "explicitly broadcast back into the fact stream (NO window over "
    "the low-cardinality brand key — the skew hazard class VERDICT r3 "
    "flagged), one final rollup. Survives 100x: the fact table streams "
    "through map-side joins; only 25-row stats move.",
    """
    WITH j AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS t
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st
      FROM j GROUP BY brand
    ),
    e AS (
      SELECT j.brand, j.t, g.n, g.st,
             ((g.st - j.t) * 1000000) // NULLIF(g.n - 1, 0) AS loo_fp
      FROM j JOIN g USING (brand)
    )
    SELECT brand,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(st) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(CASE WHEN t = 1 THEN loo_fp END), 0) AS BIGINT)
             AS sum_enc_pos,
           CAST(COALESCE(SUM(CASE WHEN t = 0 THEN loo_fp END), 0) AS BIGINT)
             AS sum_enc_neg
    FROM e
    GROUP BY brand
    """,
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("t"),
    )
    g = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
    )
    e = j.join(F.broadcast(g), "brand").withColumn(
        "loo_fp", F.expr("((st - t) * 1000000) DIV NULLIF(n - 1, 0)")
    )
    return e.groupBy("brand").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max("st").cast("bigint").alias("n_pos"),
        F.coalesce(F.sum(F.when(F.col("t") == 1, F.col("loo_fp"))), F.lit(0))
        .cast("bigint")
        .alias("sum_enc_pos"),
        F.coalesce(F.sum(F.when(F.col("t") == 0, F.col("loo_fp"))), F.lit(0))
        .cast("bigint")
        .alias("sum_enc_neg"),
    )


# ---------------------------------------------------------------------------
# Single-pass Pearson correlation matrix


def _corr_pair(a: str, b: str) -> str:
    """Engine-shared correlation expression over the one-row moment CTE:
    r = (n·Sab − Sa·Sb) / (sqrt(n·Saa − Sa²) · sqrt(n·Sbb − Sb²)), every
    moment an exact DECIMAL(38,0) integer, ONE double division at the
    end (sqrt is IEEE-correctly-rounded per CROSS_ENGINE rule 8)."""
    return (
        f"CAST(n * s_{a}{b} - s_{a} * s_{b} AS DOUBLE) / "
        f"(sqrt(CAST(n * s_{a}{a} - s_{a} * s_{a} AS DOUBLE)) * "
        f"sqrt(CAST(n * s_{b}{b} - s_{b} * s_{b} AS DOUBLE)))"
    )


_CORR_COLS = {"q": "l_quantity", "e": "l_extendedprice", "d": "l_discount", "t": "l_tax"}
_CORR_PAIRS = [("q", "e"), ("q", "d"), ("q", "t"), ("e", "d"), ("e", "t"), ("d", "t")]


@register(
    "corr_matrix_lineitem",
    "Pearson correlation matrix over the four lineitem measures "
    "(quantity, extendedprice, discount, tax) from ONE aggregation "
    "pass: each measure quantizes to round(x·100) BIGINT, all 14 "
    "moments (n, 4 sums, 4 squares, 6 cross-products) accumulate as "
    "exact DECIMAL(38,0) in a single map-side-combined agg — the "
    "6-pair matrix is then 6 constant-time projections of the one-row "
    "moment frame. No shuffle beyond the scalar agg; a naive per-pair "
    "corr() would scan the fact table 6 times. Survives 100x: moment "
    "magnitudes stay under 10^38 to ~10^9 rows; beyond that the "
    "docstring contract is per-partition pre-centering (two-pass "
    "stable covariance), same output columns.",
    f"""
    WITH qz AS (
      SELECT {", ".join(f"CAST(round({col} * 100) AS BIGINT) AS {k}" for k, col in _CORR_COLS.items())}
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             {", ".join(f"SUM(CAST({k} AS DECIMAL(38,0))) AS s_{k}" for k in _CORR_COLS)},
             {", ".join(f"SUM(CAST({a} * {b} AS DECIMAL(38,0))) AS s_{a}{b}" for a, b in [(x, x) for x in _CORR_COLS] + _CORR_PAIRS)}
      FROM qz
    )
    {" UNION ALL ".join(
        f"SELECT '{_CORR_COLS[a]}' AS col_a, '{_CORR_COLS[b]}' AS col_b, {_corr_pair(a, b)} AS corr_r FROM m"
        for a, b in _CORR_PAIRS
    )}
    """,
)
def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qz = li.select(
        *[
            F.round(F.col(col) * 100).cast("bigint").alias(k)
            for k, col in _CORR_COLS.items()
        ]
    )
    m = qz.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        *[F.sum(F.col(k).cast("decimal(38,0)")).alias(f"s_{k}") for k in _CORR_COLS],
        *[
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).alias(f"s_{a}{b}")
            for a, b in [(x, x) for x in _CORR_COLS] + _CORR_PAIRS
        ],
    )
    # ONE aggregate feeding all 6 pairs: the matrix rows explode out of
    # a struct array built over the single one-row moment frame — a
    # 6-way UNION of SELECTs would re-plan (and re-scan) the aggregate
    # per branch unless ReusedExchange rescued it at runtime.
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(_CORR_COLS[a]).alias("col_a"),
                F.lit(_CORR_COLS[b]).alias("col_b"),
                F.expr(_corr_pair(a, b)).alias("corr_r"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return m.select(F.explode(pair_structs).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr_r"
    )


# ---------------------------------------------------------------------------
# Bloom filter build + MEASURED false-positive rate


_BLOOM_BITS = 65536


@register(
    "bloom_filter_fp_eval",
    "Build a 2^16-bit / 2-hash Bloom filter over urgent-order customer "
    "keys and MEASURE its false-positive rate by probing every "
    "customer — the sketch-eval pattern (LSH recall, IVF recall@5) "
    "applied to the filter that guards 100 TB shuffle joins. Hashes "
    "are portable md5-derived integers (salted ':b1'/':b2'), the set "
    "bit list is a bounded DISTINCT (≤2·|members| rows) that "
    "BROADCASTS into two semi-join probes — the probe stream never "
    "shuffles, exactly how a runtime bloom prunes a fact scan. Output "
    "is one row of exact counts + the measured FP rate over true "
    "non-members in fixed point, checkable against the (1-e^{-kn/m})^k "
    "analytic bound offline.",
    f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT ('0x' || substr(md5(CAST(k AS VARCHAR) || ':b1'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS pos FROM members
        UNION ALL
        SELECT ('0x' || substr(md5(CAST(k AS VARCHAR) || ':b2'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS pos FROM members
      )
    ),
    probes AS (
      SELECT c_custkey AS k,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':b1'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS h1,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':b2'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS h2
      FROM customer
    ),
    hits AS (
      SELECT k FROM probes
      WHERE h1 IN (SELECT pos FROM bits) AND h2 IN (SELECT pos FROM bits)
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_pass,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
    )
    SELECT n_members, n_probes, n_pass, n_bits_set,
           n_pass - n_members AS n_false_pos,
           CAST((n_pass - n_members) * 1000000
                // NULLIF(n_probes - n_members, 0) AS BIGINT) AS fp_rate_fp
    FROM agg
    """,
)
def q_bloom_filter_fp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def h(col, salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_BITS
        )

    members = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = (
        members.select(h(F.col("k"), ":b1").alias("pos"))
        .unionByName(members.select(h(F.col("k"), ":b2").alias("pos")))
        .distinct()
    )
    probes = cust.select(
        F.col("c_custkey").alias("k"),
        h(F.col("c_custkey"), ":b1").alias("h1"),
        h(F.col("c_custkey"), ":b2").alias("h2"),
    )
    hits = probes.join(
        F.broadcast(bits.withColumnRenamed("pos", "h1")), "h1", "left_semi"
    ).join(F.broadcast(bits.withColumnRenamed("pos", "h2")), "h2", "left_semi")
    agg = dq.scalar_join(
        members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members")),
        probes.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes")),
        hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass")),
        bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set")),
    )
    return agg.select(
        "n_members",
        "n_probes",
        "n_pass",
        "n_bits_set",
        (F.col("n_pass") - F.col("n_members")).alias("n_false_pos"),
        F.expr(
            "CAST((n_pass - n_members) * 1000000"
            " DIV NULLIF(n_probes - n_members, 0) AS BIGINT)"
        ).alias("fp_rate_fp"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov divergence between two order populations


@register(
    "source_divergence_ks",
    "Two-sample Kolmogorov–Smirnov statistic between odd- and even-"
    "customer order-price distributions on an equi-width 256-bucket "
    "grid — the drift detector that needs NO logarithms (cf. the chi² "
    "sibling): D = max |CDF_a − CDF_b|, computed exactly in integers "
    "as max |cum_a·n_b − cum_b·n_a| with ONE final fixed-point "
    "division. Both populations bucket in a single conditional-"
    "aggregate scan (no self-join); the CDF cumsum runs over the "
    "BOUNDED 256-row bucket table — a single-partition window over "
    "sketch-sized state, never over data (the same bounded-window "
    "contract as the equidepth boundary table).",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice) AS BIGINT) // 2000, 255) AS bucket,
             CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END AS a
      FROM orders
    ),
    c AS (
      SELECT bucket,
             CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(1 - a) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ),
    cum AS (
      SELECT bucket,
             SUM(n_a) OVER (ORDER BY bucket) AS ca,
             SUM(n_b) OVER (ORDER BY bucket) AS cb,
             SUM(n_a) OVER () AS ta,
             SUM(n_b) OVER () AS tb
      FROM c
    ),
    d AS (
      SELECT bucket, abs(ca * tb - cb * ta) AS dev, ta, tb FROM cum
    ),
    mx AS (SELECT MAX(dev) AS mdev FROM d)
    SELECT CAST(d.ta AS BIGINT) AS n_odd,
           CAST(d.tb AS BIGINT) AS n_even,
           CAST(MIN(d.bucket) AS BIGINT) AS ks_at_bucket,
           CAST(mx.mdev * 1000000 // NULLIF(d.ta * d.tb, 0) AS BIGINT) AS ks_fp
    FROM d JOIN mx ON d.dev = mx.mdev
    GROUP BY d.ta, d.tb, mx.mdev
    """,
)
def q_source_divergence_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.least(
            F.expr("CAST(floor(o_totalprice) AS BIGINT) DIV 2000"), F.lit(255)
        ).alias("bucket"),
        F.when(F.col("o_custkey") % 2 == 1, 1).otherwise(0).alias("a"),
    )
    c = b.groupBy("bucket").agg(
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("a")).cast("bigint").alias("n_b"),
    )
    # bounded 256-row window: single partition over sketch-sized state
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "bucket",
        F.sum("n_a").over(wcum).alias("ca"),
        F.sum("n_b").over(wcum).alias("cb"),
        F.sum("n_a").over(wall).alias("ta"),
        F.sum("n_b").over(wall).alias("tb"),
    )
    d = cum.select(
        "bucket",
        F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")).alias("dev"),
        "ta",
        "tb",
    )
    mx = d.agg(F.max("dev").alias("mdev"))
    return (
        d.join(F.broadcast(mx), d["dev"] == mx["mdev"])
        .groupBy("ta", "tb", "mdev")
        .agg(F.min("bucket").cast("bigint").alias("ks_at_bucket"))
        .select(
            F.col("ta").cast("bigint").alias("n_odd"),
            F.col("tb").cast("bigint").alias("n_even"),
            "ks_at_bucket",
            # NULLIF guard (CROSS_ENGINE rule 40): one-sided input
            # zeroes ta or tb; ANSI Spark throws on DIV 0
            F.expr(
                "CAST(mdev * 1000000 DIV NULLIF(ta * tb, 0) AS BIGINT)"
            ).alias("ks_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Exact distributed weighted median (two-phase grouped prefix sums)


@register(
    "weighted_median_price",
    "Quantity-weighted median line price per return flag — 'the price "
    "level at which half the shipped volume sits', the weighted "
    "quantile no built-in computes and a naive partitionBy(flag) "
    "cumsum window serializes per group (3 huge groups → 3 tasks). "
    "operators/ranking.py::two_phase_cumsum_in_groups builds the exact "
    "running weight in price order from per-(flag, price-bucket) "
    "totals + bounded prefix-offset windows; the median is then the "
    "minimum price whose inclusive cumulative weight reaches half the "
    "group total (2·cumw ≥ totw — integer comparison, no division). "
    "The oracle proves the two-phase prefix sum against DuckDB's "
    "plain grouped window cumsum.",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice) AS BIGINT) AS price,
             CAST(round(l_quantity) AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, price, w,
             SUM(w) OVER (PARTITION BY flag
                          ORDER BY price, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY flag) AS totw
      FROM v
    )
    SELECT flag,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price END) AS BIGINT)
             AS median_price
    FROM c
    GROUP BY flag
    """,
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(floor(l_extendedprice) AS BIGINT)").alias("price"),
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = ranking.two_phase_cumsum_in_groups(
        li,
        group_cols=["flag"],
        order_by=["price", "l_orderkey", "l_linenumber"],
        coarse=F.expr("price DIV 1000"),
        weight=F.col("w"),
        cum_name="cumw",
    )
    tot = cum.groupBy("flag").agg(F.sum("w").cast("long").alias("totw"))
    return (
        cum.join(F.broadcast(tot), "flag")
        .groupBy("flag")
        .agg(
            F.max("totw").cast("bigint").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price"))
            )
            .cast("bigint")
            .alias("median_price"),
        )
    )


# ---------------------------------------------------------------------------
# Lorenz curve by customer revenue decile (two-phase rank + NTILE parity)


@register(
    "lorenz_curve_deciles",
    "Lorenz curve of revenue concentration: customers ranked ascending "
    "by revenue via the two-phase global rank (no single-partition "
    "sort — the gini query's machinery), NTILE(10)-identical deciles "
    "from operators/ranking.py::equidepth_bucket, then cumulative "
    "revenue share per decile in exact cents with ONE fixed-point "
    "division per row. The cumulative window runs over the BOUNDED "
    "10-row decile table (sketch-sized state). The oracle's plain "
    "NTILE window proves both the distributed rank and the ANSI "
    "bucket-fill contract.",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT rev_cents,
             NTILE(10) OVER (ORDER BY rev_cents, o_custkey) AS decile
      FROM r
    ),
    g AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(rev_cents) AS BIGINT) AS rev_cents
      FROM d GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile, n_customers, rev_cents,
           CAST(SUM(rev_cents) OVER (ORDER BY decile) AS BIGINT)
             AS cum_rev_cents,
           CAST(CAST(SUM(rev_cents) OVER (ORDER BY decile) AS HUGEINT)
                * 1000000 // SUM(rev_cents) OVER () AS BIGINT)
             AS cum_share_fp
    FROM g
    ORDER BY decile
    """,
)
def q_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    ranked, n = ranking.two_phase_rank(
        r,
        order_by=["rev_cents", "o_custkey"],
        coarse=F.expr("rev_cents DIV 1000000"),
        rank_name="rnk",
    )
    g = ranked.groupBy(
        ranking.equidepth_bucket(F.col("rnk"), n, 10).alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
    )
    # bounded 10-row windows: single partition over sketch-sized state
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "rev_cents",
        F.sum("rev_cents").over(wcum).cast("bigint").alias("cum_rev_cents"),
        # cum_cents * 1e6 passes 2^63 at sf1 (total ~2e13 cents) — the
        # scale product rides in DECIMAL(38,0)/HUGEINT, quotient <= 1e6
        F.expr(
            "CAST(CAST(SUM(rev_cents) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS DECIMAL(38,0)) * 1000000"
            " DIV SUM(rev_cents) OVER () AS BIGINT)"
        ).alias("cum_share_fp"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count estimator, measured vs exact


_KMV_K = 64


@register(
    "cardinality_kmv_eval",
    "Distinct-count sketch eval: the KMV (k-minimum-values / bottom-k) "
    "estimator over distinct order customers — estimate = "
    "(k−1)·2^52 DIV h_(k) where h_(k) is the k-th smallest 52-bit md5 "
    "hash — measured against the exact COUNT(DISTINCT) with the "
    "relative error as a fixed-point number. Pure integers end to "
    "end (the estimator that needs NO harmonic means or logs, unlike "
    "HLL). The bottom-k is a TakeOrdered global top-k (per-partition "
    "heads + k-row driver merge, never a global sort); the sketch is "
    "mergeable by construction (union of bottom-k sets → bottom-k). "
    "One row: exact, estimate, signed error.",
    f"""
    WITH h AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))::BIGINT
               AS hv
      FROM orders
    ),
    bk AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    kth AS (SELECT MAX(hv) AS hk, CAST(COUNT(*) AS BIGINT) AS k_used FROM bk),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM h)
    SELECT ex.n_exact, kth.k_used,
           CAST(CASE WHEN kth.k_used < {_KMV_K} THEN ex.n_exact
                ELSE ({_KMV_K} - 1) * 4503599627370496 // kth.hk END
                AS BIGINT) AS n_estimate,
           CAST(((CASE WHEN kth.k_used < {_KMV_K} THEN ex.n_exact
                  ELSE ({_KMV_K} - 1) * 4503599627370496 // kth.hk END)
                 - ex.n_exact) * 1000000 // ex.n_exact AS BIGINT)
             AS rel_error_fp
    FROM ex CROSS JOIN kth
    """,
)
def q_cardinality_kmv_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = o.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv")
    ).distinct()
    bk = h.orderBy("hv").limit(_KMV_K)
    kth = bk.agg(
        F.max("hv").alias("hk"), F.count(F.lit(1)).cast("bigint").alias("k_used")
    )
    ex = h.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = (
        f"CASE WHEN k_used < {_KMV_K} THEN n_exact"
        f" ELSE ({_KMV_K} - 1) * 4503599627370496 DIV hk END"
    )
    return dq.scalar_join(ex, kth).select(
        "n_exact",
        "k_used",
        F.expr(f"CAST({est} AS BIGINT)").alias("n_estimate"),
        F.expr(
            f"CAST((({est}) - n_exact) * 1000000 DIV n_exact AS BIGINT)"
        ).alias("rel_error_fp"),
    )


# ---------------------------------------------------------------------------
# Two-proportion A/B test (exact counts, deterministic z-score)


@register(
    "ab_test_two_proportion",
    "Two-proportion z-test between experiment arms (odd vs even "
    "users): does arm A convert (purchase) more than arm B? Counts "
    "are exact integers from ONE conditional-aggregate scan (no "
    "per-arm jobs); the z-score derives from those integers through "
    "the pooled-variance formula — sqrt and division are IEEE-"
    "correctly-rounded on identical inputs, so the doubles agree "
    "bit-for-bit (the corr_matrix contract). Per-arm user counts and "
    "converter counts are distinct-user aggregates (two-level "
    "groupBy, no count-distinct Expand).",
    """
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_b
      FROM u
    )
    SELECT n_a, c_a, n_b, c_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN CAST(0.0 AS DOUBLE)
           ELSE
             (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           END AS z_score
    FROM a
    """,
)
def q_ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("converted")
    ).withColumn("arm", F.col("user_id") % 2)
    a = u.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    degenerate = (F.col("c_a") + F.col("c_b") == 0) | (
        F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")
    )
    return a.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        # all-convert / none-convert arms have zero pooled variance: pin
        # z to 0.0 on both engines (DuckDB would emit NaN, Spark ANSI errors)
        F.when(degenerate, F.lit(0.0)).otherwise(z).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Grouped weighted quantiles (p25/p50/p75) from one prefix-sum pass


@register(
    "weighted_quantiles_price",
    "Quantity-weighted p25/p50/p75 line prices per return flag — the "
    "full weighted-quantile profile from ONE two-phase prefix-sum "
    "pass (weighted_median_price generalized): each quantile q is the "
    "minimum price whose inclusive cumulative weight reaches "
    "ceil(q·total), an integer comparison (4·cumw ≥ totw etc.), so "
    "all three quantiles fall out of the same cumulative column with "
    "no extra shuffles. No group ever serializes through one reducer; "
    "the oracle proves it against DuckDB's plain grouped window "
    "cumsum.",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice) AS BIGINT) AS price,
             CAST(round(l_quantity) AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, price, w,
             SUM(w) OVER (PARTITION BY flag
                          ORDER BY price, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY flag) AS totw
      FROM v
    )
    SELECT flag,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 4 * cumw >= totw THEN price END) AS BIGINT)
             AS p25_price,
           CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price END) AS BIGINT)
             AS p50_price,
           CAST(MIN(CASE WHEN 4 * cumw >= 3 * totw THEN price END) AS BIGINT)
             AS p75_price
    FROM c
    GROUP BY flag
    """,
)
def q_weighted_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(floor(l_extendedprice) AS BIGINT)").alias("price"),
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = ranking.two_phase_cumsum_in_groups(
        li,
        group_cols=["flag"],
        order_by=["price", "l_orderkey", "l_linenumber"],
        coarse=F.expr("price DIV 1000"),
        weight=F.col("w"),
        cum_name="cumw",
    )
    tot = cum.groupBy("flag").agg(F.sum("w").cast("long").alias("totw"))
    j = cum.join(F.broadcast(tot), "flag")
    return j.groupBy("flag").agg(
        F.max("totw").cast("bigint").alias("total_weight"),
        F.min(F.when(4 * F.col("cumw") >= F.col("totw"), F.col("price")))
        .cast("bigint")
        .alias("p25_price"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price")))
        .cast("bigint")
        .alias("p50_price"),
        F.min(F.when(4 * F.col("cumw") >= 3 * F.col("totw"), F.col("price")))
        .cast("bigint")
        .alias("p75_price"),
    )


# ---------------------------------------------------------------------------
# Scalable deterministic per-group reservoir sampling
# ---------------------------------------------------------------------------

_RSV_K = 20
_RSV_OVER = 4  # oversampling factor for the pre-filter


@register(
    "reservoir_sample_per_group",
    "Deterministic fixed-size sample of k=20 events per event_type — the "
    "distributed reservoir: a first pass counts each group, a narrow "
    "hash pre-filter keeps ~k·4 rows per group (P[keep] = k·4/n_g via a "
    "20-bit md5 hash, reproducible across engines/partitionings), and "
    "only the surviving ~80 rows per group are ranked. The naive "
    "window-rank reservoir serializes each group's FULL population "
    "through one task — this plan's per-group sort input is O(k·4) "
    "regardless of corpus size, which is what makes fixed-size-per-class "
    "eval sets feasible on a 100 TB event log.",
    f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g FROM events GROUP BY event_type
    ),
    kept AS (
      SELECT e.event_type, e.event_id,
             ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 5))::BIGINT AS h20
      FROM events e JOIN g USING (event_type)
      WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 5))::BIGINT * g.n_g
            < {_RSV_K * _RSV_OVER} * 1048576
    )
    SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id FROM (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h20, event_id) AS rn
      FROM kept
    ) WHERE rn <= {_RSV_K}
    """,
)
def q_reservoir_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    h20 = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 5), 16, 10)
        .cast("long")
        .alias("h20")
    )
    kept = (
        ev.select("event_type", "event_id", h20)
        .join(F.broadcast(g), "event_type")
        .filter(F.col("h20") * F.col("n_g") < F.lit(_RSV_K * _RSV_OVER * 1048576))
    )
    w = Window.partitionBy("event_type").orderBy("h20", "event_id")
    return (
        kept.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _RSV_K)
        .select("event_type", "rn", "event_id")
    )


# ---------------------------------------------------------------------------
# Feature scaling (z-score + min-max) per segment — exact cross-engine
# ---------------------------------------------------------------------------


@register(
    "feature_scaler_suite",
    "Per-segment feature scaling of order totals: z-score "
    "((x−μ)/σ, population σ) and min-max ((x−min)/(max−min)) — the two "
    "standard normalizations every training-data pipeline applies before "
    "numeric features ship. Exactness: prices become integer cents "
    "(DECIMAL cast — exact 2dp), Σx and min/max are exact BIGINTs, Σx² "
    "runs in DECIMAL(38,0)/HUGEINT and crosses back under 2^53 via the "
    "quotient+remainder split (twap pattern, CROSS_ENGINE + "
    "behavior_queries.py:332) so every derived double is bit-identical. "
    "One grouped-agg shuffle builds the 5-row stats table; the scaled "
    "output is a broadcast-join narrow map over the fact table.",
    """
    WITH c AS (
      SELECT o_orderkey, c_mktsegment AS seg,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_c,
             SUM(CAST(cents AS HUGEINT) * cents) AS ssq,
             CAST(MIN(cents) AS BIGINT) AS min_c,
             CAST(MAX(cents) AS BIGINT) AS max_c
      FROM c GROUP BY seg
    ),
    st AS (
      SELECT seg, n, min_c, max_c,
             CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
             CAST(CAST(ssq // n AS BIGINT) AS DOUBLE)
               + CAST(CAST(ssq % n AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE)
               AS ex2_c
      FROM s
    )
    SELECT o_orderkey, seg,
           (CAST(cents AS DOUBLE) - mean_c)
             / NULLIF(sqrt(ex2_c - mean_c * mean_c), 0) AS z_score,
           CAST(cents - min_c AS DOUBLE)
             / NULLIF(CAST(max_c - min_c AS DOUBLE), 0) AS min_max
    FROM c JOIN st USING (seg)
    """,
)
def q_feature_scaler_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    c = o.join(cu, o.o_custkey == cu.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    s = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_c"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("ssq"),
        F.min("cents").cast("bigint").alias("min_c"),
        F.max("cents").cast("bigint").alias("max_c"),
    )
    st = s.select(
        "seg",
        "n",
        "min_c",
        "max_c",
        (F.col("sum_c").cast("double") / F.col("n").cast("double")).alias("mean_c"),
        (
            F.expr("CAST(ssq DIV n AS BIGINT)").cast("double")
            + F.expr("CAST(ssq % n AS BIGINT)").cast("double")
            / F.col("n").cast("double")
        ).alias("ex2_c"),
    )
    return c.join(F.broadcast(st), "seg").select(
        "o_orderkey",
        "seg",
        # NULLIF guards (CROSS_ENGINE rule 40): a constant-price or
        # single-order segment zeroes sigma and the min-max span
        (
            (F.col("cents").cast("double") - F.col("mean_c"))
            / F.nullif(
                F.sqrt(F.col("ex2_c") - F.col("mean_c") * F.col("mean_c")),
                F.lit(0.0),
            )
        ).alias("z_score"),
        (
            (F.col("cents") - F.col("min_c")).cast("double")
            / F.nullif(
                (F.col("max_c") - F.col("min_c")).cast("double"), F.lit(0.0)
            )
        ).alias("min_max"),
    )


# ---------------------------------------------------------------------------
# Categorical association: chi-squared + Cramér's V in fixed point
# ---------------------------------------------------------------------------


@register(
    "cramers_v_association",
    "Association strength between order priority and order status: "
    "χ² over the 5×3 contingency table and Cramér's V = "
    "√(χ²/(N·min(r−1,c−1))). All contingency math is exact integers — "
    "the per-cell deviation d = o·N − rt·ct stays under N² < 2^63, the "
    "χ² contribution is fixed-point ((d DIV N)²·10⁶ DIV (rt·ct DIV N)) "
    "with truncation identical on both engines (rule 25), and the one "
    "sqrt at the end is IEEE-exact (rule 8). The contingency table is "
    "|priorities|×|statuses| rows — a single grouped-count shuffle; "
    "everything after operates on ≤15 rows.",
    """
    WITH cell AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    tot AS (
      SELECT pr, st, o,
             SUM(o) OVER (PARTITION BY pr) AS rt,
             SUM(o) OVER (PARTITION BY st) AS ct,
             SUM(o) OVER () AS n
      FROM cell
    ),
    chi AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM(
               ((o * n - rt * ct) // n) * ((o * n - rt * ct) // n) * 1000000
               // ((rt * ct) // n)
             ) AS BIGINT) AS chi2_fp
      FROM tot
    )
    SELECT n, chi2_fp,
           sqrt((CAST(chi2_fp AS DOUBLE) / 1000000.0) / (CAST(n AS DOUBLE) * 2.0))
             AS cramers_v
    FROM chi
    """,
)
def q_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.col("o_orderpriority").alias("pr"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    # windows over the bounded 15-row contingency table (docstring bound)
    tot = cell.select(
        "pr",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pr")).alias("rt"),
        F.sum("o").over(Window.partitionBy("st")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    chi = tot.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "((o * n - rt * ct) DIV n) * ((o * n - rt * ct) DIV n) * 1000000"
                " DIV ((rt * ct) DIV n)"
            )
        )
        .cast("bigint")
        .alias("chi2_fp"),
    )
    return chi.select(
        "n",
        "chi2_fp",
        F.sqrt(
            (F.col("chi2_fp").cast("double") / 1000000.0)
            / (F.col("n").cast("double") * 2.0)
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# KMV sketch set operations (union / intersection estimates), measured
# ---------------------------------------------------------------------------

_KSO_K = 64


@register(
    "kmv_set_ops_eval",
    "Sketch set-algebra eval: KMV (bottom-k) sketches of the click-user "
    "and purchase-user sets compose into union and intersection "
    "cardinality ESTIMATES — union by merging bottom-k sets (the KMV "
    "monoid), intersection via the Jaccard fraction of the merged "
    "sketch that lands in both sides (Beyer et al. 2007) — and both "
    "are measured against exact distinct counts in fixed point. This "
    "is the pattern that answers audience-overlap questions at 100 TB "
    "from two k-row sketches instead of a fact-table join; the "
    "bottom-k itself is TakeOrdered (per-partition heads + k-row "
    "driver merge), and all estimator math is integer (52-bit md5 "
    "hashes, DIV — no harmonic means, rule 4).",
    f"""
    WITH ua AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM events WHERE event_type = 'click'
    ),
    ub AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM events WHERE event_type = 'purchase'
    ),
    ka AS (SELECT h FROM ua ORDER BY h LIMIT {_KSO_K}),
    kb AS (SELECT h FROM ub ORDER BY h LIMIT {_KSO_K}),
    ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
           ORDER BY h LIMIT {_KSO_K}),
    kstat AS (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS k_used FROM ku),
    rho AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM ku
      JOIN ka ON ku.h = ka.h JOIN kb ON ku.h = kb.h
    ),
    ex AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT h FROM ua UNION SELECT h FROM ub)) AS exact_union,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM ua JOIN ub ON ua.h = ub.h) AS exact_inter
    )
    SELECT exact_union, exact_inter, k_used,
           CAST(CASE WHEN k_used < {_KSO_K} THEN exact_union
                ELSE ({_KSO_K} - 1) * 4503599627370496 // hk END AS BIGINT)
             AS est_union,
           CAST(n_both * (CASE WHEN k_used < {_KSO_K} THEN exact_union
                          ELSE ({_KSO_K} - 1) * 4503599627370496 // hk END)
                // NULLIF(k_used, 0) AS BIGINT) AS est_inter,
           CAST(COALESCE((n_both * (CASE WHEN k_used < {_KSO_K} THEN exact_union
                           ELSE ({_KSO_K} - 1) * 4503599627370496 // hk END)
                          // NULLIF(k_used, 0) - exact_inter) * 1000000
                         // NULLIF(exact_inter, 0), 0) AS BIGINT)
             AS inter_err_fp
    FROM ex CROSS JOIN kstat CROSS JOIN rho
    """,
)
def q_kmv_set_ops_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def uset(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select(
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
                .cast("long")
                .alias("h")
            )
            .distinct()
        )

    ua, ub = uset("click"), uset("purchase")
    ka = ua.orderBy("h").limit(_KSO_K)
    kb = ub.orderBy("h").limit(_KSO_K)
    ku = ka.union(kb).distinct().orderBy("h").limit(_KSO_K)
    kstat = ku.agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).cast("bigint").alias("k_used")
    )
    rho = (
        ku.join(ka.withColumnRenamed("h", "h"), "h")
        .join(kb, "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ex = dq.scalar_join(
        ua.union(ub).distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_union")
        ),
        ua.join(ub, "h").agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter")),
    )
    est = (
        f"CASE WHEN k_used < {_KSO_K} THEN exact_union"
        f" ELSE ({_KSO_K} - 1) * 4503599627370496 DIV hk END"
    )
    return dq.scalar_join(ex, kstat, rho).select(
        "exact_union",
        "exact_inter",
        "k_used",
        F.expr(f"CAST({est} AS BIGINT)").alias("est_union"),
        # NULLIF guard (rule 40): both user sets empty -> k_used = 0
        F.expr(
            f"CAST(n_both * ({est}) DIV NULLIF(k_used, 0) AS BIGINT)"
        ).alias("est_inter"),
        F.expr(
            f"CAST(COALESCE((n_both * ({est}) DIV NULLIF(k_used, 0)"
            f" - exact_inter) * 1000000"
            f" DIV NULLIF(exact_inter, 0), 0) AS BIGINT)"
        ).alias("inter_err_fp"),
    )


# ---------------------------------------------------------------------------
# Half-sample (delete-half jackknife) median stability
# ---------------------------------------------------------------------------


@register(
    "subsample_median_stability",
    "Estimator-stability check: 8 deterministic half-samples of orders "
    "(bit b of a 60-bit md5 key hash selects each half — overlapping "
    "balanced replicas, the poor man's bootstrap that needs no RNG "
    "state and reproduces on any engine/partitioning) and the exact "
    "interpolated median of each (rule 7: percentile ≡ quantile_cont "
    "bit-for-bit). The spread across replicas is the sampling-error "
    "bar a 100 TB report should ship with its point estimate. One "
    "8× narrow explode + one grouped percentile shuffle.",
    """
    WITH h AS (
      SELECT o_totalprice,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM orders
    ),
    r AS (SELECT unnest(range(0, 8)) AS b)
    SELECT CAST(b AS INTEGER) AS b, CAST(COUNT(*) AS BIGINT) AS n_rows,
           quantile_cont(o_totalprice, 0.5) AS median_price
    FROM h CROSS JOIN r
    WHERE ((hv >> b) & 1) = 1
    GROUP BY b
    """,
)
def q_subsample_median_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = o.select(
        "o_totalprice",
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    return (
        h.select(
            "o_totalprice",
            "hv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("b"),
        )
        .filter(F.expr("((hv >> b) & 1) = 1"))
        .groupBy(F.col("b").cast("int").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
        )
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------


@register(
    "conformal_interval_coverage",
    "Split-conformal prediction: a deterministic hash split (md5 "
    "bucket < 50, the engine-portable seedless sampler) carves a "
    "calibration set; the point model is the per-event-type calibration "
    "mean (decimal sum, one division); the conformal radius q_hat is "
    "the 0.9 DISCRETE percentile (order statistic) of absolute "
    "calibration residuals — the finite-sample-correct conformal "
    "quantile, and immune to rule 7's 1-ulp interpolation caveat that "
    "flips boundary rows at scale; coverage = fraction of TEST rows "
    "whose absolute residual <= q_hat. Per-type stats are one grouped agg "
    "each; the 5-row model table broadcasts onto the test scan — two "
    "fact passes total, no global sort.",
    """
    WITH split AS (
      SELECT event_type, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 < 50 AS is_cal
      FROM events
    ),
    model AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_cal,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu
      FROM split WHERE is_cal GROUP BY event_type
    ),
    qhat AS (
      SELECT s.event_type,
             quantile_disc(abs(s.value - m.mu), 0.9) AS q_hat
      FROM split s JOIN model m ON m.event_type = s.event_type
      WHERE s.is_cal
      GROUP BY s.event_type
    )
    SELECT s.event_type, m.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           m.mu, q.q_hat,
           CAST(SUM(CASE WHEN abs(s.value - m.mu) <= q.q_hat
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN abs(s.value - m.mu) <= q.q_hat
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS coverage
    FROM split s
    JOIN model m ON m.event_type = s.event_type
    JOIN qhat q ON q.event_type = s.event_type
    WHERE NOT s.is_cal
    GROUP BY s.event_type, m.n_cal, m.mu, q.q_hat
    """,
)
def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = ev.select(
        "event_type",
        "value",
        (hash_bucket(F.col("event_id"), 100) < 50).alias("is_cal"),
    )
    cal = split.filter("is_cal")
    model = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
    )
    qhat = (
        cal.join(F.broadcast(model), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY abs(value - mu))"
            ).alias("q_hat")
        )
    )
    test = split.filter(~F.col("is_cal"))
    covered = F.sum(
        F.when(F.abs(F.col("value") - F.col("mu")) <= F.col("q_hat"), 1).otherwise(0)
    ).cast("bigint")
    return (
        test.join(F.broadcast(model), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "mu", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            covered.alias("n_covered"),
            (
                F.sum(
                    F.when(
                        F.abs(F.col("value") - F.col("mu")) <= F.col("q_hat"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("coverage"),
        )
        .select(
            "event_type", "n_cal", "n_test", "mu", "q_hat", "n_covered", "coverage"
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U via the grouped two-phase prefix-sum machinery
# ---------------------------------------------------------------------------


@register(
    "mann_whitney_u_segments",
    "Exact Mann-Whitney U (with tie-averaged ranks) comparing order "
    "totals of BUILDING vs MACHINERY customers — the nonparametric "
    "distribution-shift test. All-integer trick: average ranks are "
    "half-integers, so everything carries x2: avgrank2(v) = "
    "2*cum_before(v) + n_v + 1 over the DISTINCT-value table, and "
    "U1x2 = sum(n1_v * avgrank2) - n1*(n1+1). The global prefix sum "
    "over distinct values uses two_phase_cumsum_in_groups "
    "(operators/ranking.py) with a price-band coarse bucket — no "
    "single-partition window over row-scale data. U1x2 + U2x2 = "
    "2*n1*n2 exactly; auc_ppm = U1*1e6/(n1*n2) needs < 2^63, fine "
    "through ~3e6 rows per side (docstring contract).",
    """
    WITH seg AS (
      SELECT o_totalprice AS v,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    vals AS (
      SELECT v, CAST(SUM(g1) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(g1) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seg GROUP BY v
    ),
    ranked AS (
      SELECT v, n1, n2, n,
             CAST(2 * COALESCE(SUM(n) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n + 1 AS BIGINT) AS avgrank2
      FROM vals
    ),
    agg AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS n1_tot,
             CAST(SUM(n2) AS BIGINT) AS n2_tot,
             CAST(SUM(n1 * avgrank2) AS BIGINT) AS ranksum2_1
      FROM ranked
    )
    SELECT n1_tot, n2_tot,
           CAST(ranksum2_1 - n1_tot * (n1_tot + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1_tot * n2_tot
                - (ranksum2_1 - n1_tot * (n1_tot + 1)) AS BIGINT) AS u2_x2,
           CAST((ranksum2_1 - n1_tot * (n1_tot + 1)) * 1000000
                // (2 * n1_tot * n2_tot) AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def q_mann_whitney_u_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import (
        two_phase_cumsum_in_groups,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g1"),
        )
    )
    vals = seg.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g1")).cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ranked = two_phase_cumsum_in_groups(
        vals,
        group_cols=[],
        order_by=["v"],
        coarse=F.expr("CAST(floor(v) AS BIGINT) DIV 10000"),
        weight=F.col("n"),
        cum_name="cum_incl",
    ).withColumn(
        "avgrank2",
        (2 * (F.col("cum_incl") - F.col("n")) + F.col("n") + 1).cast("bigint"),
    )
    return ranked.agg(
        F.sum("n1").cast("bigint").alias("n1_tot"),
        F.sum("n2").cast("bigint").alias("n2_tot"),
        F.sum(F.col("n1") * F.col("avgrank2")).cast("bigint").alias("ranksum2_1"),
    ).selectExpr(
        "n1_tot",
        "n2_tot",
        "CAST(ranksum2_1 - n1_tot * (n1_tot + 1) AS BIGINT) AS u1_x2",
        "CAST(2 * n1_tot * n2_tot - (ranksum2_1 - n1_tot * (n1_tot + 1)) AS BIGINT)"
        " AS u2_x2",
        "CAST((ranksum2_1 - n1_tot * (n1_tot + 1)) * 1000000"
        " DIV (2 * n1_tot * n2_tot) AS BIGINT) AS auc_ppm",
    )


# ---------------------------------------------------------------------------
# Histogram-based decision-stump split finding (LightGBM-style)
# ---------------------------------------------------------------------------


@register(
    "histogram_split_finding",
    "Histogram-based best-split search (the LightGBM/XGBoost-hist "
    "pattern): bin order totals into fixed 2000-wide buckets "
    "(CAST(floor(v) AS BIGINT) DIV 2000 — rule 31's engine-safe double "
    "bucketizer; bin count tracks the fixed price RANGE, not row "
    "count), build per-bin (n, n_urgent) with one grouped agg, prefix-"
    "sum over the BOUNDED bin table, and score every boundary by "
    "weighted Gini impurity. The Gini expression is a fixed tree of "
    "exact-int-to-double conversions and IEEE ops — bit-identical "
    "across engines without fixed point. One fact shuffle total; the "
    "split scan is histogram-sized. Output: the best split.",
    """
    WITH binned AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) // 2000 AS bin,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    hist AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS npos
      FROM binned GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(npos) OVER w AS BIGINT) AS pl,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(npos) OVER () AS BIGINT) AS pt
      FROM hist
      WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    scored AS (
      SELECT bin, nl, nt - nl AS nr, pl, pt - pl AS pr,
             (CAST(nl AS DOUBLE)
                * (1.0 - (CAST(pl * pl AS DOUBLE)
                          + CAST((nl - pl) * (nl - pl) AS DOUBLE))
                         / CAST(nl * nl AS DOUBLE))
              + CAST(nt - nl AS DOUBLE)
                * (1.0 - (CAST((pt - pl) * (pt - pl) AS DOUBLE)
                          + CAST(((nt - nl) - (pt - pl))
                                 * ((nt - nl) - (pt - pl)) AS DOUBLE))
                         / CAST((nt - nl) * (nt - nl) AS DOUBLE)))
             / CAST(nt AS DOUBLE) AS gini
      FROM cum
      WHERE nl > 0 AND nt - nl > 0
    )
    SELECT CAST(bin AS BIGINT) AS split_bin,
           CAST((bin + 1) * 2000 AS BIGINT) AS split_value,
           nl AS n_left, nr AS n_right, pl AS pos_left, pr AS pos_right,
           gini AS weighted_gini
    FROM scored
    ORDER BY gini, bin
    LIMIT 1
    """,
)
def q_histogram_split_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.expr("CAST(floor(o_totalprice) AS BIGINT) DIV 2000").alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("pos"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    # windows over `hist` are histogram-sized (bounded by the fixed price
    # range / 2000, ~300 rows at any SF) — the documented bounded-window
    # class, not a row-scale sort
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "bin",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("npos").over(w).cast("bigint").alias("pl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("npos").over(wall).cast("bigint").alias("pt"),
    )
    scored = cum.filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)).selectExpr(
        "bin",
        "nl",
        "nt - nl AS nr",
        "pl",
        "pt - pl AS pr",
        """
        (CAST(nl AS DOUBLE)
           * (1.0 - (CAST(pl * pl AS DOUBLE)
                     + CAST((nl - pl) * (nl - pl) AS DOUBLE))
                    / CAST(nl * nl AS DOUBLE))
         + CAST(nt - nl AS DOUBLE)
           * (1.0 - (CAST((pt - pl) * (pt - pl) AS DOUBLE)
                     + CAST(((nt - nl) - (pt - pl))
                            * ((nt - nl) - (pt - pl)) AS DOUBLE))
                    / CAST((nt - nl) * (nt - nl) AS DOUBLE)))
        / CAST(nt AS DOUBLE) AS gini
        """,
    )
    return (
        scored.selectExpr(
            "CAST(bin AS BIGINT) AS split_bin",
            "CAST((bin + 1) * 2000 AS BIGINT) AS split_value",
            "nl AS n_left",
            "nr AS n_right",
            "pl AS pos_left",
            "pr AS pos_right",
            "gini AS weighted_gini",
        )
        .orderBy("weighted_gini", "split_bin")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample drift statistic
# ---------------------------------------------------------------------------


@register(
    "source_divergence_cvm",
    "Two-sample Cramér–von Mises statistic between click and view "
    "event values — the integral companion to the KS max-gap test "
    "(source_divergence_ks): T = (n1*n2/N^2) * sum over the pooled "
    "sample of (F1-F2)^2. Values land on a deci-grid "
    "(floor(value*10), bounded by the fixed value RANGE, not rows); "
    "ECDF gaps are exact integers d = cum1*n2 - cum2*n1, scaled to "
    "millis by DIV (truncation is engine-identical even for negative "
    "d, rule 25), squared and count-weighted into an exact BIGINT "
    "t_milli2. One grouped agg + one bounded-grid window; the final "
    "double is a fixed expression over exact ints (n1*n2 < 2^53 "
    "through sf1; promote to the quotient+remainder split beyond).",
    """
    WITH s AS (
      SELECT CAST(floor(value * 10) AS BIGINT) AS g,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
      FROM events WHERE event_type IN ('click', 'view')
    ),
    grid AS (
      SELECT g, CAST(SUM(is1) AS BIGINT) AS c1,
             CAST(COUNT(*) - SUM(is1) AS BIGINT) AS c2
      FROM s GROUP BY g
    ),
    cum AS (
      SELECT g, c1, c2,
             CAST(SUM(c1) OVER w AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER w AS BIGINT) AS cum2,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c2) OVER () AS BIGINT) AS n2
      FROM grid
      WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    terms AS (
      SELECT n1, n2,
             (c1 + c2)
               * ((cum1 * n2 - cum2 * n1) * 1000 // (n1 * n2))
               * ((cum1 * n2 - cum2 * n1) * 1000 // (n1 * n2)) AS t
      FROM cum
    )
    SELECT n1, n2, CAST(SUM(t) AS BIGINT) AS t_milli2,
           CAST(n1 * n2 AS DOUBLE) * CAST(SUM(t) AS DOUBLE)
             / CAST((n1 + n2) * (n1 + n2) AS DOUBLE) / 1000000.0
             AS cvm_stat
    FROM terms GROUP BY n1, n2
    """,
)
def q_source_divergence_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.expr("CAST(floor(value * 10) AS BIGINT)").alias("g"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is1"),
    )
    grid = s.groupBy("g").agg(
        F.sum("is1").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("is1")).cast("bigint").alias("c2"),
    )
    # the grid is bounded by the fixed value range (~5k rows at any SF):
    # the documented bounded-window class
    w = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = grid.select(
        "c1",
        "c2",
        F.sum("c1").over(w).cast("bigint").alias("cum1"),
        F.sum("c2").over(w).cast("bigint").alias("cum2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
    )
    terms = cum.selectExpr(
        "n1",
        "n2",
        "(c1 + c2) * ((cum1 * n2 - cum2 * n1) * 1000 DIV (n1 * n2))"
        " * ((cum1 * n2 - cum2 * n1) * 1000 DIV (n1 * n2)) AS t",
    )
    return terms.groupBy("n1", "n2").agg(
        F.sum("t").cast("bigint").alias("t_milli2"),
        (
            F.col("n1").cast("double")
            * F.col("n2").cast("double")
            * F.sum("t").cast("bigint").cast("double")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2"))).cast(
                "double"
            )
            / F.lit(1000000.0)
        ).alias("cvm_stat"),
    ).select("n1", "n2", "t_milli2", "cvm_stat")


# ---------------------------------------------------------------------------
# Systematic every-k-th sampling on the exact global rank
# ---------------------------------------------------------------------------


@register(
    "systematic_sample_every_k",
    "Systematic (every-97th) sample of orders in (orderdate, orderkey) "
    "order — the stratified-in-time design survey methodology wants, "
    "exact at any scale because the global rank comes from "
    "two_phase_rank (day-band coarse buckets, no single-partition "
    "sort, bounded driver offsets). Report: kept count, kept vs total "
    "revenue (decimal sums, one double cast each) and the sampling "
    "fraction as one IEEE division. A deterministic complement to the "
    "hash (Bernoulli) and stratified samplers in operators/sampling.",
    """
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rk
      FROM orders
    )
    SELECT CAST(COUNT(CASE WHEN rk % 97 = 1 THEN 1 END) AS BIGINT)
             AS n_kept,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rk % 97 = 1
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
             AS revenue_kept,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue_total,
           CAST(COUNT(CASE WHEN rk % 97 = 1 THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS kept_fraction
    FROM ranked
    """,
)
def q_systematic_sample_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ranked, _n = two_phase_rank(
        o.select("o_orderdate", "o_orderkey", "o_totalprice"),
        order_by=["o_orderdate", "o_orderkey"],
        coarse=F.expr(
            "CAST(unix_micros(date_trunc('day', o_orderdate))"
            " DIV 86400000000 AS BIGINT) DIV 30"
        ),
        rank_name="rk",
    )
    kept = F.when(F.col("rk") % 97 == 1, 1)
    return ranked.agg(
        F.count(kept).cast("bigint").alias("n_kept"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(
            F.when(F.col("rk") % 97 == 1, F.col("o_totalprice").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue_kept"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue_total"),
        (
            F.count(kept).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("kept_fraction"),
    )


# ---------------------------------------------------------------------------
# Winsorized robust means
# ---------------------------------------------------------------------------


@register(
    "winsorized_value_stats",
    "Winsorized mean per event type: values clamped to the exact "
    "[p5, p95] DISCRETE percentiles (order statistics, not "
    "interpolation — rule 7's caveat: the interpolated form diverges "
    "1 ulp at scale when the quantile lands between two EQUAL "
    "neighbors, because DuckDB evaluates a*(1-f)+b*f where Spark "
    "evaluates a+(b-a)*f; quantile_disc returns an actual data value "
    "on both engines), then quantized to integer micros (round-half-"
    "away is engine-identical for positive doubles, rule 5 note) and "
    "averaged exactly — the robust-mean companion to the MAD anomaly "
    "screen. Two fact passes (percentile agg, clamp+sum) with the "
    "5-row bounds table broadcast between them; SUM(micros) < 2^53 "
    "through ~1e7 rows/type (docstring contract), so the final mean "
    "is one exact division.",
    """
    WITH bounds AS (
      SELECT event_type,
             quantile_disc(value, 0.05) AS p5,
             quantile_disc(value, 0.95) AS p95
      FROM events GROUP BY event_type
    ),
    clamped AS (
      SELECT e.event_type, e.value, b.p5, b.p95,
             CAST(round(LEAST(GREATEST(e.value, b.p5), b.p95) * 1000000)
                  AS BIGINT) AS qv
      FROM events e JOIN bounds b ON b.event_type = e.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(p5) AS DOUBLE) AS p5,
           CAST(MAX(p95) AS DOUBLE) AS p95,
           CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
             AS winsorized_mean,
           CAST(SUM(CASE WHEN value < p5 OR value > p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped
    FROM clamped
    GROUP BY event_type
    """,
)
def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias("p5"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("p95"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "value",
        "p5",
        "p95",
        F.round(F.least(F.greatest(F.col("value"), F.col("p5")), F.col("p95")) * 1000000)
        .cast("bigint")
        .alias("qv"),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("p5").cast("double").alias("p5"),
        F.max("p95").cast("double").alias("p95"),
        (
            F.sum("qv").cast("double") / F.count(F.lit(1)).cast("double") / F.lit(1000000.0)
        ).alias("winsorized_mean"),
        F.sum(
            F.when((F.col("value") < F.col("p5")) | (F.col("value") > F.col("p95")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_clamped"),
    )


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted sample estimate, error measured
# ---------------------------------------------------------------------------


@register(
    "ipw_sample_eval",
    "Inverse-propensity-weighted estimation from a stratified "
    "deterministic sample: each priority stratum keeps a different "
    "hash fraction (50%% urgent, 20%% high, 10%% rest — divisor-exact "
    "rates so the IPW multiplier 100/pct is an INTEGER), the revenue "
    "total is re-estimated as sum(price * mult) in exact DECIMAL, and "
    "the relative error vs the exact total is REPORTED per stratum — "
    "the survey-sampling eval-harness pattern (measured loss, not "
    "assumed). One fact scan computes kept and exact sums together "
    "(conditional aggregates); no second pass, no shuffle beyond the "
    "5-row stratum agg.",
    """
    WITH s AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             CASE o_orderpriority WHEN '1-URGENT' THEN 50
                  WHEN '2-HIGH' THEN 20 ELSE 10 END AS pct,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS hb
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN hb < pct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(price) AS DOUBLE) AS exact_revenue,
           CAST(SUM(CASE WHEN hb < pct THEN price * (100 // pct)
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS ipw_estimate,
           abs(CAST(SUM(CASE WHEN hb < pct THEN price * (100 // pct)
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               - CAST(SUM(price) AS DOUBLE))
             / CAST(SUM(price) AS DOUBLE) AS rel_error
    FROM s
    GROUP BY o_orderpriority
    """,
)
def q_ipw_sample_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 50)
        .when(F.col("o_orderpriority") == "2-HIGH", 20)
        .otherwise(10)
        .alias("pct"),
        hash_bucket(F.col("o_orderkey"), 100).alias("hb"),
    )
    kept_price = F.when(
        F.col("hb") < F.col("pct"),
        F.col("price") * F.expr("CAST(100 DIV pct AS BIGINT)"),
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    agg = s.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("hb") < F.col("pct"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum("price").cast("double").alias("exact_revenue"),
        F.sum(kept_price).cast("double").alias("ipw_estimate"),
    )
    return agg.withColumn(
        "rel_error",
        F.abs(F.col("ipw_estimate") - F.col("exact_revenue"))
        / F.col("exact_revenue"),
    )


# ---------------------------------------------------------------------------
# Partial-aggregation mergeability proof
# ---------------------------------------------------------------------------


@register(
    "mergeable_moments_proof",
    "Map-side-combine correctness as a query: lineitem splits into two "
    "hash halves, each half computes the exact moment state "
    "(n, sum_cents, sum_cents^2 in DECIMAL(38,0)), the states MERGE by "
    "addition, and the merged result is compared cell-for-cell against "
    "the direct whole-table aggregate — the algebraic property that "
    "makes distributed partial aggregation (and every sketch in this "
    "repo) correct, here verified rather than assumed. Variance emits "
    "via the exact quotient+remainder split (num = n*S2 - S^2 ~ 1e27 "
    "at sf1, far past 2^53; den = n^2 < 2^53). One fact scan per leg.",
    """
    WITH q AS (
      SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
               % 2 AS half,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    halves AS (
      SELECT half, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS s2
      FROM q GROUP BY half
    ),
    merged AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s,
             SUM(s2) AS s2
      FROM halves
    ),
    direct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS s2
      FROM q
    )
    SELECT m.n AS n_rows, m.s AS sum_cents,
           m.n = d.n AND m.s = d.s AND m.s2 = d.s2 AS merge_matches_direct,
           (CAST(CAST((m.n * m.s2 - CAST(m.s AS HUGEINT) * m.s)
                      // (m.n * m.n) AS BIGINT) AS DOUBLE)
            + CAST(CAST((m.n * m.s2 - CAST(m.s AS HUGEINT) * m.s)
                        % (m.n * m.n) AS BIGINT) AS DOUBLE)
              / CAST(m.n * m.n AS DOUBLE)) / 10000.0 AS variance_dollars2
    FROM merged m CROSS JOIN direct d
    """,
)
def q_mergeable_moments_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        (hash_bucket(F.col("l_orderkey"), 2)).alias("half"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    halves = q.groupBy("half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)"))
        .alias("s2"),
    )
    merged = halves.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
        F.sum("s2").alias("s2"),
    )
    direct = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum("cents").cast("bigint").alias("ds"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)"))
        .alias("ds2"),
    )
    joined = merged.crossJoin(F.broadcast(direct))
    num = "(n * s2 - CAST(s AS DECIMAL(38,0)) * s)"
    return joined.selectExpr(
        "n AS n_rows",
        "s AS sum_cents",
        "n = dn AND s = ds AND s2 = ds2 AS merge_matches_direct",
        f"(CAST(CAST({num} DIV (n * n) AS BIGINT) AS DOUBLE)"
        f" + CAST(CAST({num} % (n * n) AS BIGINT) AS DOUBLE)"
        " / CAST(n * n AS DOUBLE)) / 10000.0 AS variance_dollars2",
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------

_CUPED_DOC = (
    "CUPED variance-reduced A/B readout (Deng et al. 2013): users are "
    "deterministically hash-assigned to two arms, the experiment metric "
    "Y is each user's post-period event value (integer cents) and the "
    "covariate X is the same user's PRE-period value; "
    "theta = cov(X,Y)/var(X) over all users, and each arm reports its "
    "naive mean alongside the CUPED-adjusted mean "
    "mean(Y_a) - theta*(mean(X_a) - mean(X)). Everything up to the "
    "final doubles is exact: per-user sums are BIGINT cents, the "
    "moment products accumulate in DECIMAL(38,0)/HUGEINT (x,y < 2^23 "
    "cents per user so x*y < 2^46 per row; the n*Sxy - Sx*Sy "
    "combination is bounded by n^2 * max(xy) — exact integers), and "
    "integers > 2^53 reach DOUBLE via the quotient+remainder split. "
    "ONE fact pass: user sums -> 2-row arm partials; the global "
    "moments are window-TOTALS of the arm partials (the mergeability "
    "of moment sketches doing real work — no second scan). The "
    "variance-reduction column is 1 - corr(X,Y)^2, the theoretical "
    "CUPED gain, as one fixed IEEE tree. Scale: the only shuffles are "
    "the per-user groupBy and a 2-row aggregate; at 100 TB the user "
    "aggregate is the same single map-side-combined pass."
)

_CUPED_ORACLE = f"""
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm,
             COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0) AS x,
             COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0) AS y
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT arm,
             COUNT(*) AS n_a,
             SUM(x) AS sx_a, SUM(y) AS sy_a,
             SUM(x * y) AS sxy_a, SUM(x * x) AS sxx_a, SUM(y * y) AS syy_a
      FROM u GROUP BY arm
    ),
    g AS (
      SELECT arm, n_a, sx_a, sy_a,
             SUM(n_a) OVER () AS n, SUM(sx_a) OVER () AS sx,
             SUM(sy_a) OVER () AS sy, SUM(sxy_a) OVER () AS sxy,
             SUM(sxx_a) OVER () AS sxx, SUM(syy_a) OVER () AS syy
      FROM a
    ),
    m AS (
      SELECT arm, n_a, sx_a, sy_a, n, sx, sy,
             n * sxy - sx * sy AS covnum,
             n * sxx - sx * sx AS varxnum,
             n * syy - sy * sy AS varynum
      FROM g
    ),
    d AS (
      SELECT arm, n_a, sx_a, sy_a, n, sx, sy,
             {_split_double('covnum').format(**_SPLIT_DUCK)} AS covd,
             {_split_double('varxnum').format(**_SPLIT_DUCK)} AS vxd,
             {_split_double('varynum').format(**_SPLIT_DUCK)} AS vyd
      FROM m
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(n_a AS BIGINT) AS n_users,
           CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_y,
           CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_x,
           (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            - (CASE WHEN vxd = 0.0 THEN 0.0 ELSE covd / vxd END)
              * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0
             AS adj_mean_y,
           CASE WHEN vxd = 0.0 THEN 0.0 ELSE covd / vxd END AS theta,
           CASE WHEN vxd = 0.0 OR vyd = 0.0 THEN 0.0
                ELSE covd * covd / (vxd * vyd) END AS var_reduction
    FROM d
"""


@register("cuped_adjusted_estimate", _CUPED_DOC, _CUPED_ORACLE)
def q_cuped_adjusted_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0)).alias("y"),
    ).select(
        _hash_mod(F.col("user_id"), 2).alias("arm"), "x", "y"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy_a"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx_a"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy_a"),
    )
    w = Window.partitionBy()
    g = a.select(
        "arm", "n_a", "sx_a", "sy_a",
        F.sum("n_a").over(w).alias("n"),
        F.sum("sx_a").over(w).alias("sx"),
        F.sum("sy_a").over(w).alias("sy"),
        F.sum("sxy_a").over(w).alias("sxy"),
        F.sum("sxx_a").over(w).alias("sxx"),
        F.sum("syy_a").over(w).alias("syy"),
    )
    m = g.select(
        "arm", "n_a", "sx_a", "sy_a", "n", "sx", "sy",
        (dec(F.col("n")) * F.col("sxy") - dec(F.col("sx")) * dec(F.col("sy"))).alias("covnum"),
        (dec(F.col("n")) * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx"))).alias("varxnum"),
        (dec(F.col("n")) * F.col("syy") - dec(F.col("sy")) * dec(F.col("sy"))).alias("varynum"),
    )
    d = m.select(
        "arm", "n_a", "sx_a", "sy_a", "n", "sx", "sy",
        F.expr(_split_double("covnum").format(**_SPLIT_SPARK)).alias("covd"),
        F.expr(_split_double("varxnum").format(**_SPLIT_SPARK)).alias("vxd"),
        F.expr(_split_double("varynum").format(**_SPLIT_SPARK)).alias("vyd"),
    )
    theta = F.when(F.col("vxd") == 0.0, F.lit(0.0)).otherwise(F.col("covd") / F.col("vxd"))
    return d.select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("n_a").cast("bigint").alias("n_users"),
        (F.col("sy_a").cast("double") / F.col("n_a").cast("double") / 100.0).alias("mean_y"),
        (F.col("sx_a").cast("double") / F.col("n_a").cast("double") / 100.0).alias("mean_x"),
        (
            (
                F.col("sy_a").cast("double") / F.col("n_a").cast("double")
                - theta
                * (
                    F.col("sx_a").cast("double") / F.col("n_a").cast("double")
                    - F.col("sx").cast("double") / F.col("n").cast("double")
                )
            )
            / 100.0
        ).alias("adj_mean_y"),
        theta.alias("theta"),
        F.when((F.col("vxd") == 0.0) | (F.col("vyd") == 0.0), F.lit(0.0))
        .otherwise(F.col("covd") * F.col("covd") / (F.col("vxd") * F.col("vyd")))
        .alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check
# ---------------------------------------------------------------------------


@register(
    "experiment_srm_check",
    "Sample-ratio-mismatch guardrail for the hash-assigned experiment: "
    "a 2-cell chi-square of the observed arm counts against the "
    "designed 50/50 split — chi2 = (nA-nB)^2 / (nA+nB), carried in "
    "micro fixed point with the squared difference accumulated in "
    "DECIMAL(38,0)/HUGEINT so the *1e6 rescale cannot overflow BIGINT "
    "at any user count. The flag trips above the 3.841 critical value "
    "(alpha=0.05, df=1). The canonical pre-analysis gate every "
    "experimentation platform runs before reading means: a broken "
    "randomizer invalidates CUPED and naive readouts alike. One "
    "distinct-user aggregate, 2-row state.",
    """
    WITH u AS (
      SELECT DISTINCT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm
      FROM events
    ),
    c AS (
      SELECT
        SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
      FROM u
    )
    SELECT CAST(na AS BIGINT) AS n_arm_a,
           CAST(nb AS BIGINT) AS n_arm_b,
           CAST((1000000::HUGEINT * (na - nb) * (na - nb)) // (na + nb)
                AS BIGINT) AS chi2_micro,
           (1000000::HUGEINT * (na - nb) * (na - nb)) // (na + nb) > 3841000
             AS srm_detected
    FROM c
    """,
)
def q_experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(_hash_mod(F.col("user_id"), 2).alias("arm"))
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb"),
    )
    chi2 = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (na - nb) * (na - nb))"
        " DIV (na + nb) AS BIGINT)"
    )
    return c.select(
        F.col("na").cast("bigint").alias("n_arm_a"),
        F.col("nb").cast("bigint").alias("n_arm_b"),
        chi2.alias("chi2_micro"),
        (chi2 > 3841000).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------


@register(
    "did_revenue_impact",
    "Difference-in-differences estimator: treatment group = customers "
    "in region ASIA, pre/post split at o_orderdate 1998-01-01; the "
    "estimand is the change in mean order value for treated customers "
    "minus the same change for controls — the canonical two-period "
    "two-group causal panel readout. The four cell means come from ONE "
    "fact pass of conditional aggregates (cents in BIGINT, exact), and "
    "the DiD is a fixed IEEE tree over the four identically-computed "
    "doubles. Joins: orders->customer shuffles on custkey (AQE-sized); "
    "nation/region are broadcast fixed-size dims. Scale: a 4-cell "
    "aggregate regardless of fact size.",
    """
    WITH o AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             (r.r_name = 'ASIA') AS treat,
             (o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') AS post
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cells AS (
      SELECT
        SUM(CASE WHEN treat AND NOT post THEN cents ELSE 0 END) AS s_tp,
        SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS n_tp,
        SUM(CASE WHEN treat AND post THEN cents ELSE 0 END) AS s_ta,
        SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS n_ta,
        SUM(CASE WHEN NOT treat AND NOT post THEN cents ELSE 0 END) AS s_cp,
        SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS n_cp,
        SUM(CASE WHEN NOT treat AND post THEN cents ELSE 0 END) AS s_ca,
        SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS n_ca
      FROM o
    )
    SELECT CAST(n_tp AS BIGINT) AS n_treat_pre,
           CAST(n_ta AS BIGINT) AS n_treat_post,
           CAST(n_cp AS BIGINT) AS n_ctrl_pre,
           CAST(n_ca AS BIGINT) AS n_ctrl_post,
           CAST(s_tp AS DOUBLE) / NULLIF(CAST(n_tp AS DOUBLE), 0) / 100.0
             AS mean_treat_pre,
           CAST(s_ta AS DOUBLE) / NULLIF(CAST(n_ta AS DOUBLE), 0) / 100.0
             AS mean_treat_post,
           CAST(s_cp AS DOUBLE) / NULLIF(CAST(n_cp AS DOUBLE), 0) / 100.0
             AS mean_ctrl_pre,
           CAST(s_ca AS DOUBLE) / NULLIF(CAST(n_ca AS DOUBLE), 0) / 100.0
             AS mean_ctrl_post,
           (CAST(s_ta AS DOUBLE) / NULLIF(CAST(n_ta AS DOUBLE), 0)
            - CAST(s_tp AS DOUBLE) / NULLIF(CAST(n_tp AS DOUBLE), 0))
           - (CAST(s_ca AS DOUBLE) / NULLIF(CAST(n_ca AS DOUBLE), 0)
              - CAST(s_cp AS DOUBLE) / NULLIF(CAST(n_cp AS DOUBLE), 0))
             AS did_cents
    FROM cells
    """,
)
def q_did_revenue_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            (F.col("r_name") == "ASIA").alias("treat"),
            (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")).alias(
                "post"
            ),
        )
    )

    def cell(pred: Column, val: Column, name: str) -> Column:
        return F.sum(F.when(pred, val).otherwise(F.lit(0))).alias(name)

    t, p = F.col("treat"), F.col("post")
    cells = base.agg(
        cell(t & ~p, F.col("cents"), "s_tp"),
        cell(t & ~p, F.lit(1), "n_tp"),
        cell(t & p, F.col("cents"), "s_ta"),
        cell(t & p, F.lit(1), "n_ta"),
        cell(~t & ~p, F.col("cents"), "s_cp"),
        cell(~t & ~p, F.lit(1), "n_cp"),
        cell(~t & p, F.col("cents"), "s_ca"),
        cell(~t & p, F.lit(1), "n_ca"),
    )
    # NULLIF guard (rule 40): an empty cell zeroes its count
    mean = lambda s, n_: F.col(s).cast("double") / F.nullif(  # noqa: E731
        F.col(n_).cast("double"), F.lit(0.0)
    )
    return cells.select(
        F.col("n_tp").cast("bigint").alias("n_treat_pre"),
        F.col("n_ta").cast("bigint").alias("n_treat_post"),
        F.col("n_cp").cast("bigint").alias("n_ctrl_pre"),
        F.col("n_ca").cast("bigint").alias("n_ctrl_post"),
        (mean("s_tp", "n_tp") / 100.0).alias("mean_treat_pre"),
        (mean("s_ta", "n_ta") / 100.0).alias("mean_treat_post"),
        (mean("s_cp", "n_cp") / 100.0).alias("mean_ctrl_pre"),
        (mean("s_ca", "n_ca") / 100.0).alias("mean_ctrl_post"),
        (
            (mean("s_ta", "n_ta") - mean("s_tp", "n_tp"))
            - (mean("s_ca", "n_ca") - mean("s_cp", "n_cp"))
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# Pareto 80/20 revenue concentration per nation
# ---------------------------------------------------------------------------


@register(
    "pareto_8020_analysis",
    "Pareto concentration per nation: the minimum number of customers "
    "whose (descending) revenue prefix covers 80%% of the nation's "
    "total, plus that prefix's exact share in ppm — the 80/20 readout "
    "behind key-account planning, computed on exact integer cents with "
    "the 5*cum >= 4*total crossing test (no float thresholds). The "
    "running sum uses operators/ranking.two_phase_cumsum_in_groups: "
    "per-(nation, revenue-bucket) partials roll into prefix offsets "
    "over the bounded bucket table, so no nation is sorted through a "
    "single task — the same plan shape at 25 nations x 10^9 customers. "
    "Totals join back as a broadcast 25-row aggregate.",
    """
    WITH cust AS (
      SELECT n.n_name AS nation, o.o_custkey AS custkey,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS revcents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, o.o_custkey
    ),
    cum AS (
      SELECT nation, custkey, revcents,
             SUM(revcents) OVER (PARTITION BY nation
                                 ORDER BY revcents DESC, custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumcents
      FROM cust
    ),
    tot AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(revcents) AS total_cents
      FROM cust GROUP BY nation
    )
    SELECT t.nation, t.n_customers,
           CAST(t.total_cents AS DOUBLE) / 100.0 AS total_revenue,
           CAST(1 + COALESCE(SUM(CASE WHEN 5 * c.cumcents < 4 * t.total_cents
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS k_for_80,
           CAST((MIN(CASE WHEN 5 * c.cumcents >= 4 * t.total_cents
                          THEN c.cumcents END) * 1000000) // t.total_cents
                AS BIGINT) AS topk_share_ppm
    FROM tot t JOIN cum c ON c.nation = t.nation
    GROUP BY t.nation, t.n_customers, t.total_cents
    """,
)
def q_pareto_8020_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import two_phase_cumsum_in_groups

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("custkey"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("revcents"))
        .withColumn("negrev", -F.col("revcents"))
    )
    cum = two_phase_cumsum_in_groups(
        cust,
        group_cols=["nation"],
        order_by=["negrev", "custkey"],
        coarse=F.expr("negrev DIV 10000000"),
        weight=F.col("revcents"),
        cum_name="cumcents",
    )
    tot = cust.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("revcents").alias("total_cents"),
    )
    return (
        cum.join(F.broadcast(tot), "nation")
        .groupBy("nation", "n_customers", "total_cents")
        .agg(
            (
                F.lit(1)
                + F.coalesce(
                    F.sum(
                        F.when(5 * F.col("cumcents") < 4 * F.col("total_cents"), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("k_for_80"),
            F.expr(
                "CAST((MIN(CASE WHEN 5 * cumcents >= 4 * total_cents THEN cumcents END)"
                " * 1000000) DIV total_cents AS BIGINT)"
            ).alias("topk_share_ppm"),
        )
        .select(
            "nation",
            "n_customers",
            (F.col("total_cents").cast("double") / 100.0).alias("total_revenue"),
            "k_for_80",
            "topk_share_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Covariate balance (standardized mean difference) across experiment arms
# ---------------------------------------------------------------------------


@register(
    "covariate_balance_smd",
    "Covariate balance check for the hash-randomized experiment: per "
    "event type, the standardized mean difference of users' PRE-"
    "period activity counts between the two arms — "
    "SMD = (m1-m0)/sqrt((v1+v0)/2), the causal-inference balance "
    "table that validates randomization beyond the SRM count check "
    "(and the diagnostic propensity-score workflows stratify on). "
    "The user x type grid is an explicit 5-row broadcast fan-out with "
    "zero-fill (absent combos are real zeros, not dropped rows — the "
    "emptiness trap); all moments are exact BIGINT sums entering one "
    "fixed IEEE tree; |SMD| < 0.1 is the conventional balance flag. "
    "One fact scan + one 10-row aggregate.",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    pre AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS x
      FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id, event_type
    ),
    grid AS (
      SELECT u.user_id, t.event_type,
             ('0x' || substr(md5(CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm,
             COALESCE(p.x, 0) AS x
      FROM u CROSS JOIN types t
      LEFT JOIN pre p ON p.user_id = u.user_id AND p.event_type = t.event_type
    ),
    mom AS (
      SELECT event_type,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS s1,
             SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS s0,
             SUM(CASE WHEN arm = 1 THEN x * x ELSE 0 END) AS ss1,
             SUM(CASE WHEN arm = 0 THEN x * x ELSE 0 END) AS ss0
      FROM grid GROUP BY event_type
    ),
    v AS (
      SELECT event_type, n1, n0, s1, s0,
             CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
               / NULLIF(CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE), 0) AS v1,
             CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
               / NULLIF(CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE), 0) AS v0
      FROM mom
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_arm_a,
           CAST(n0 AS BIGINT) AS n_arm_b,
           CAST(s1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0) AS mean_a,
           CAST(s0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0) AS mean_b,
           CASE WHEN v1 + v0 = 0.0 THEN 0.0
                ELSE (CAST(s1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0)
                      - CAST(s0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0))
                     / sqrt((v1 + v0) / 2.0) END AS smd,
           CASE WHEN v1 + v0 = 0.0 THEN TRUE
                ELSE abs((CAST(s1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0)
                          - CAST(s0 AS DOUBLE) / NULLIF(CAST(n0 AS DOUBLE), 0))
                         / sqrt((v1 + v0) / 2.0)) < 0.1 END AS balanced
    FROM v
    """,
)
def q_covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    u = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    pre = (
        ev.filter(F.col("ts") < cut)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    grid = (
        u.crossJoin(F.broadcast(types))
        .join(pre, ["user_id", "event_type"], "left")
        .select(
            "event_type",
            _hash_mod(F.col("user_id"), 2).alias("arm"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    mom = grid.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x") * F.col("x")).otherwise(0)).alias("ss1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x") * F.col("x")).otherwise(0)).alias("ss0"),
    )
    v = mom.select(
        "event_type",
        "n1",
        "n0",
        "s1",
        "s0",
        # NULLIF guards (CROSS_ENGINE rule 40): a 0- or 1-user arm
        # zeroes the variance denominator; ANSI Spark throws on /0
        (
            (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast("double")
            / F.nullif(
                F.col("n1").cast("double") * (F.col("n1") - 1).cast("double"),
                F.lit(0.0),
            )
        ).alias("v1"),
        (
            (F.col("n0") * F.col("ss0") - F.col("s0") * F.col("s0")).cast("double")
            / F.nullif(
                F.col("n0").cast("double") * (F.col("n0") - 1).cast("double"),
                F.lit(0.0),
            )
        ).alias("v0"),
    )
    mean_a = F.col("s1").cast("double") / F.nullif(
        F.col("n1").cast("double"), F.lit(0.0)
    )
    mean_b = F.col("s0").cast("double") / F.nullif(
        F.col("n0").cast("double"), F.lit(0.0)
    )
    smd = (mean_a - mean_b) / F.sqrt((F.col("v1") + F.col("v0")) / 2.0)
    zero_var = F.col("v1") + F.col("v0") == 0.0
    return v.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_arm_a"),
        F.col("n0").cast("bigint").alias("n_arm_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.when(zero_var, F.lit(0.0)).otherwise(smd).alias("smd"),
        F.when(zero_var, F.lit(True)).otherwise(F.abs(smd) < 0.1).alias("balanced"),
    )


# ---------------------------------------------------------------------------
# Qini uplift deciles
# ---------------------------------------------------------------------------


@register(
    "qini_uplift_deciles",
    "Uplift modeling readout: users ranked by a targeting score "
    "(pre-period spend), bucketed into NTILE-identical deciles via "
    "the two-phase global rank (operators/ranking.py — no single-"
    "partition sort), and per decile the treated-vs-control outcome "
    "means (post-period purchase cents) plus the CUMULATIVE uplift "
    "curve — the Qini/uplift-decile table targeting campaigns are "
    "judged by. Counts and cent sums stay exact BIGINT through the "
    "10-row cumulative window; each emitted mean/uplift is one fixed "
    "IEEE tree with zero-count guards. One fact scan to user grain; "
    "everything after is bounded by 10 rows.",
    """
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm,
             COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0) AS score,
             COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                               AND event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0) AS y
      FROM events GROUP BY user_id
    ),
    deciled AS (
      SELECT arm, y,
             NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM u
    ),
    cells AS (
      SELECT decile,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS yt,
             SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS yc
      FROM deciled GROUP BY decile
    ),
    cum AS (
      SELECT decile, nt, nc, yt, yc,
             SUM(nt) OVER (ORDER BY decile) AS cnt,
             SUM(nc) OVER (ORDER BY decile) AS cnc,
             SUM(yt) OVER (ORDER BY decile) AS cyt,
             SUM(yc) OVER (ORDER BY decile) AS cyc
      FROM cells
    )
    SELECT decile,
           CAST(nt AS BIGINT) AS n_treat,
           CAST(nc AS BIGINT) AS n_ctrl,
           CASE WHEN nt = 0 OR nc = 0 THEN 0.0
                ELSE (CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE)
                      - CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE)) / 100.0
           END AS uplift_per_user,
           CASE WHEN cnt = 0 OR cnc = 0 THEN 0.0
                ELSE (CAST(cyt AS DOUBLE) / CAST(cnt AS DOUBLE)
                      - CAST(cyc AS DOUBLE) / CAST(cnc AS DOUBLE)) / 100.0
           END AS cum_uplift_per_user
    FROM cum
    """,
)
def q_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import (
        equidepth_bucket,
        two_phase_rank,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)).alias("score"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ts") >= cut) & (F.col("event_type") == "purchase"), cents
                )
            ),
            F.lit(0),
        ).alias("y"),
    ).select(
        _hash_mod(F.col("user_id"), 2).alias("arm"),
        "user_id",
        "score",
        "y",
        (-F.col("score")).alias("negscore"),
    )
    ranked, total = two_phase_rank(
        u, order_by=["negscore", "user_id"], coarse=F.expr("negscore DIV 10000")
    )
    deciled = ranked.withColumn(
        "decile", equidepth_bucket(F.col("global_rank"), total, 10)
    )
    cells = deciled.groupBy("decile").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).alias("yt"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)).alias("yc"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "decile",
        "nt",
        "nc",
        "yt",
        "yc",
        F.sum("nt").over(wd).alias("cnt"),
        F.sum("nc").over(wd).alias("cnc"),
        F.sum("yt").over(wd).alias("cyt"),
        F.sum("yc").over(wd).alias("cyc"),
    )
    uplift = (
        F.col("yt").cast("double") / F.col("nt").cast("double")
        - F.col("yc").cast("double") / F.col("nc").cast("double")
    ) / 100.0
    cum_uplift = (
        F.col("cyt").cast("double") / F.col("cnt").cast("double")
        - F.col("cyc").cast("double") / F.col("cnc").cast("double")
    ) / 100.0
    return cum.select(
        "decile",
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_ctrl"),
        F.when((F.col("nt") == 0) | (F.col("nc") == 0), F.lit(0.0))
        .otherwise(uplift)
        .alias("uplift_per_user"),
        F.when((F.col("cnt") == 0) | (F.col("cnc") == 0), F.lit(0.0))
        .otherwise(cum_uplift)
        .alias("cum_uplift_per_user"),
    )


# ---------------------------------------------------------------------------
# Neyman sampling allocation
# ---------------------------------------------------------------------------


@register(
    "neyman_allocation_plan",
    "Neyman-optimal stratified sampling allocation: each event-type "
    "stratum's share of a 10k-row sample budget proportional to "
    "N_h * sd_h — the survey-design step BEFORE the stratified "
    "samplers this engine already ships. Stratum sd comes from exact "
    "integer cent moments (one fixed IEEE tree incl. the exact "
    "sqrt); the weight is then floor-quantized to an integer "
    "(rule 5) BEFORE summing across strata, so no cross-row double "
    "summation ever happens (rule 1) and shares/allocations are pure "
    "integer DIV. One fact scan, 5-row state.",
    """
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS sx,
             SUM(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS sxx
      FROM events GROUP BY event_type
    ),
    v AS (
      SELECT event_type, n, n * sxx - sx * sx AS varnum FROM s
    ),
    w AS (
      SELECT event_type, n,
             CAST(floor(CAST(n AS DOUBLE)
                        * sqrt((CAST(varnum // 67108864 AS DOUBLE) * 67108864.0 + CAST(varnum % 67108864 AS DOUBLE))
                               / NULLIF(CAST(n AS DOUBLE)
                                        * CAST(n - 1 AS DOUBLE), 0)))
                  AS BIGINT) AS weight
      FROM v
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_rows,
           weight,
           CAST(weight * 1000000 // NULLIF(SUM(weight) OVER (), 0) AS BIGINT)
             AS share_ppm,
           CAST(weight * 10000 // NULLIF(SUM(weight) OVER (), 0) AS BIGINT)
             AS alloc_10k
    FROM w
    """,
)
def q_neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sx"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("sxx"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = s.select(
        "event_type",
        "n",
        (dec(F.col("n")) * dec(F.col("sxx")) - dec(F.col("sx")) * dec(F.col("sx"))).alias(
            "varnum"
        ),
    )
    w = v.select(
        "event_type",
        "n",
        F.floor(
            F.col("n").cast("double")
            # NULLIF guard (rule 40): a 1-row stratum zeroes n*(n-1)
            * F.sqrt(
                F.expr(_split_double("varnum").format(**_SPLIT_SPARK))
                / F.nullif(
                    F.col("n").cast("double") * (F.col("n") - 1).cast("double"),
                    F.lit(0.0),
                )
            )
        )
        .cast("bigint")
        .alias("weight"),
    )
    return w.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_rows"),
        "weight",
        F.expr(
            "CAST(weight * 1000000 DIV NULLIF(SUM(weight) OVER (), 0)"
            " AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(
            "CAST(weight * 10000 DIV NULLIF(SUM(weight) OVER (), 0) AS BIGINT)"
        ).alias("alloc_10k"),
    )


# ---------------------------------------------------------------------------
# QQ table between customer segments
# ---------------------------------------------------------------------------


@register(
    "qq_table_segments",
    "Quantile-quantile comparison table: order totals of BUILDING-"
    "segment customers vs all other segments at the 9 deciles, as "
    "discrete percentiles (order statistics — rule 7's "
    "interpolation-proof form) plus their exact-cent difference — "
    "the distribution-shift readout that says WHERE two segments "
    "diverge, complementing the single-number KS/CvM statistics. "
    "Two grouped percentile aggregates over one fact-dim join; "
    "9-row output.",
    """
    WITH x AS (
      SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    qa AS (
      SELECT CAST(quantile_disc(cents, 0.1) AS BIGINT) AS a1,
             CAST(quantile_disc(cents, 0.2) AS BIGINT) AS a2,
             CAST(quantile_disc(cents, 0.3) AS BIGINT) AS a3,
             CAST(quantile_disc(cents, 0.4) AS BIGINT) AS a4,
             CAST(quantile_disc(cents, 0.5) AS BIGINT) AS a5,
             CAST(quantile_disc(cents, 0.6) AS BIGINT) AS a6,
             CAST(quantile_disc(cents, 0.7) AS BIGINT) AS a7,
             CAST(quantile_disc(cents, 0.8) AS BIGINT) AS a8,
             CAST(quantile_disc(cents, 0.9) AS BIGINT) AS a9
      FROM x WHERE grp = 1
    ),
    qb AS (
      SELECT CAST(quantile_disc(cents, 0.1) AS BIGINT) AS b1,
             CAST(quantile_disc(cents, 0.2) AS BIGINT) AS b2,
             CAST(quantile_disc(cents, 0.3) AS BIGINT) AS b3,
             CAST(quantile_disc(cents, 0.4) AS BIGINT) AS b4,
             CAST(quantile_disc(cents, 0.5) AS BIGINT) AS b5,
             CAST(quantile_disc(cents, 0.6) AS BIGINT) AS b6,
             CAST(quantile_disc(cents, 0.7) AS BIGINT) AS b7,
             CAST(quantile_disc(cents, 0.8) AS BIGINT) AS b8,
             CAST(quantile_disc(cents, 0.9) AS BIGINT) AS b9
      FROM x WHERE grp = 0
    ),
    wide AS (SELECT * FROM qa CROSS JOIN qb),
    long AS (
      SELECT 1 AS decile, a1 AS q_building, b1 AS q_other FROM wide
      UNION ALL
      SELECT 2 AS decile, a2 AS q_building, b2 AS q_other FROM wide
      UNION ALL
      SELECT 3 AS decile, a3 AS q_building, b3 AS q_other FROM wide
      UNION ALL
      SELECT 4 AS decile, a4 AS q_building, b4 AS q_other FROM wide
      UNION ALL
      SELECT 5 AS decile, a5 AS q_building, b5 AS q_other FROM wide
      UNION ALL
      SELECT 6 AS decile, a6 AS q_building, b6 AS q_other FROM wide
      UNION ALL
      SELECT 7 AS decile, a7 AS q_building, b7 AS q_other FROM wide
      UNION ALL
      SELECT 8 AS decile, a8 AS q_building, b8 AS q_other FROM wide
      UNION ALL
      SELECT 9 AS decile, a9 AS q_building, b9 AS q_other FROM wide
    )
    SELECT decile, q_building, q_other,
           q_building - q_other AS diff_cents
    FROM long
    """,
)
def q_qq_table_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    def side(grp: int, out: str) -> DataFrame:
        per_q = [
            F.expr(
                f"CAST(percentile_disc({d / 10.0}) WITHIN GROUP (ORDER BY cents)"
                f" AS BIGINT)"
            ).alias(f"q{d}")
            for d in range(1, 10)
        ]
        wide = x.filter(F.col("grp") == grp).agg(*per_q)
        rows = [
            wide.select(
                F.lit(d).cast("int").alias("decile"), F.col(f"q{d}").alias(out)
            )
            for d in range(1, 10)
        ]
        out_df = rows[0]
        for r in rows[1:]:
            out_df = out_df.unionByName(r)
        return out_df

    qa = side(1, "q_building")
    qb = side(0, "q_other")
    return qa.join(qb, "decile").select(
        "decile",
        "q_building",
        "q_other",
        (F.col("q_building") - F.col("q_other")).alias("diff_cents"),
    )


@register(
    "median_ci_distribution_free",
    "Distribution-free 95%% confidence interval for the median of "
    "event values per type: the CI bounds are ORDER STATISTICS at "
    "ranks floor((n - 1.96*sqrt(n))/2) and ceil((n + 1.96*sqrt(n))/2 "
    "+ 1) (clamped to [1, n]) — the binomial-based interval that "
    "needs no normality assumption and no variance estimate, exact "
    "on both engines because sqrt is IEEE-correctly-rounded (rule 8) "
    "and floor/ceil of the identical double are deterministic. Ranks "
    "come from the grouped two-phase rank (operators/ranking.py — no "
    "per-type single-reducer sort); the three order statistics are "
    "picked by one conditional aggregate over the rank-joined rows.",
    """
    WITH ranked AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rnk
      FROM events
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
      GROUP BY event_type
    ),
    bounds AS (
      SELECT event_type, n,
             GREATEST(CAST(floor((CAST(n AS DOUBLE)
                                  - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0)
                           AS BIGINT), 1) AS lo_rank,
             LEAST(CAST(ceil((CAST(n AS DOUBLE)
                              + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0 + 1.0)
                        AS BIGINT), n) AS hi_rank,
             (n + 1) // 2 AS med_rank
      FROM stats
    )
    SELECT b.event_type, b.n,
           MAX(CASE WHEN r.rnk = b.med_rank THEN r.value END) AS median,
           MAX(CASE WHEN r.rnk = b.lo_rank THEN r.value END) AS ci_lo,
           MAX(CASE WHEN r.rnk = b.hi_rank THEN r.value END) AS ci_hi
    FROM bounds b
    JOIN ranked r ON r.event_type = b.event_type
                 AND r.rnk IN (b.lo_rank, b.med_rank, b.hi_rank)
    GROUP BY b.event_type, b.n
    """,
)
def q_median_ci_distribution_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import two_phase_rank_in_groups

    ev = load_table(spark, sf_dir, "events")
    ranked = two_phase_rank_in_groups(
        ev.select("event_type", "value", "event_id"),
        group_cols=["event_type"],
        order_by=["value", "event_id"],
        coarse=F.expr("CAST(floor(value) AS BIGINT)"),
        rank_name="rnk",
    )
    stats = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nd = F.col("n").cast("double")
    bounds = stats.select(
        "event_type",
        "n",
        F.greatest(
            F.floor((nd - 1.96 * F.sqrt(nd)) / 2.0).cast("bigint"), F.lit(1).cast("bigint")
        ).alias("lo_rank"),
        F.least(
            F.ceil((nd + 1.96 * F.sqrt(nd)) / 2.0 + 1.0).cast("bigint"), F.col("n")
        ).alias("hi_rank"),
        F.expr("(n + 1) DIV 2").alias("med_rank"),
    )
    joined = ranked.join(F.broadcast(bounds), "event_type").filter(
        (F.col("rnk") == F.col("lo_rank"))
        | (F.col("rnk") == F.col("med_rank"))
        | (F.col("rnk") == F.col("hi_rank"))
    )
    return joined.groupBy("event_type", "n").agg(
        F.max(F.when(F.col("rnk") == F.col("med_rank"), F.col("value"))).alias("median"),
        F.max(F.when(F.col("rnk") == F.col("lo_rank"), F.col("value"))).alias("ci_lo"),
        F.max(F.when(F.col("rnk") == F.col("hi_rank"), F.col("value"))).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Tie-corrected Spearman rank correlation per return flag
# ---------------------------------------------------------------------------


@register(
    "spearman_corr_by_flag",
    "Tie-corrected Spearman rank correlation between quantity and "
    "extended price per return flag — the distribution-free "
    "monotone-association measure (Pearson on midranks). Midranks "
    "are computed as exact INTEGERS (2x midrank = 2*(#less) + #eq "
    "+ 1) from per-value count tables via the grouped two-phase "
    "prefix sum (operators/ranking.py) — no value ever carries a "
    ".5, and no group funnels through one task: the cumsum windows "
    "over the bounded per-bucket count table (price-range/1000$ "
    "buckets, qty 1..50), not over rows. Moment sums are exact "
    "DECIMAL(38,0)/HUGEINT (rank products reach ~1e21 at sf1 — past "
    "BIGINT) and reach DOUBLE via the quotient+remainder split "
    "(plain >2^63 decimal->double casts round differently per "
    "engine); rho is one shared IEEE expression tree (rules 1-2, 8).",
    """
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    vq AS (SELECT flag, qty, COUNT(*) AS cnt FROM li GROUP BY flag, qty),
    rq AS (
      SELECT flag, qty,
             2 * (SUM(cnt) OVER (PARTITION BY flag ORDER BY qty
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt) + cnt + 1 AS rx2
      FROM vq
    ),
    vc AS (SELECT flag, cents, COUNT(*) AS cnt FROM li GROUP BY flag, cents),
    rc AS (
      SELECT flag, cents,
             2 * (SUM(cnt) OVER (PARTITION BY flag ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt) + cnt + 1 AS ry2
      FROM vc
    ),
    j AS (
      SELECT li.flag, rq.rx2, rc.ry2
      FROM li
      JOIN rq ON rq.flag = li.flag AND rq.qty = li.qty
      JOIN rc ON rc.flag = li.flag AND rc.cents = li.cents
    ),
    si AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(rx2) AS sx_i, SUM(ry2) AS sy_i,
             SUM(rx2 * rx2) AS sxx_i, SUM(ry2 * ry2) AS syy_i,
             SUM(rx2 * ry2) AS sxy_i
      FROM j GROUP BY flag
    ),
    s AS (
      SELECT flag, n_rows,
             (CAST(sx_i // 67108864 AS DOUBLE) * 67108864.0
              + CAST(sx_i % 67108864 AS DOUBLE)) AS sx,
             (CAST(sy_i // 67108864 AS DOUBLE) * 67108864.0
              + CAST(sy_i % 67108864 AS DOUBLE)) AS sy,
             (CAST(sxx_i // 67108864 AS DOUBLE) * 67108864.0
              + CAST(sxx_i % 67108864 AS DOUBLE)) AS sxx,
             (CAST(syy_i // 67108864 AS DOUBLE) * 67108864.0
              + CAST(syy_i % 67108864 AS DOUBLE)) AS syy,
             (CAST(sxy_i // 67108864 AS DOUBLE) * 67108864.0
              + CAST(sxy_i % 67108864 AS DOUBLE)) AS sxy
      FROM si
    )
    SELECT flag, n_rows,
           (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
             / NULLIF(sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy), 0)
             AS spearman_rho
    FROM s
    """,
)
def q_spearman_corr_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import (
        two_phase_cumsum_in_groups,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        _cents(F.col("l_extendedprice")).alias("cents"),
    )
    # r11 NOTE (measured negative — do not "fix" again): restructuring to
    # a single joint (flag, qty, cents) count table with jn-weighted
    # moments (one lineitem pass instead of three) was oracle-green but
    # MEASURED SLOWER (count-methodology best-of-5: 3.98 s → 4.67 s at
    # sf0.1). The joint key is near-row-cardinality, so the "one pass"
    # is a ~full-size hash aggregation + checkpoint materialization,
    # while the three branch scans are cheap pipelined projections
    # (CLAUDE.md skipgram counterexample class). Keeping the original
    # three-consumer shape.

    def midrank2(value_col: str, coarse: Column, out: str) -> DataFrame:
        vg = li.groupBy("flag", value_col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = two_phase_cumsum_in_groups(
            vg, ["flag"], [value_col], coarse=coarse, weight=F.col("cnt")
        )
        return cum.select(
            "flag",
            value_col,
            (2 * (F.col("cumw") - F.col("cnt")) + F.col("cnt") + 1).alias(out),
        )

    rq = midrank2("qty", F.col("qty"), "rx2")
    rc = midrank2("cents", F.expr("cents DIV 100000"), "ry2")
    j = li.join(rq, ["flag", "qty"]).join(rc, ["flag", "cents"])
    si = j.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("rx2").cast("decimal(38,0)")).alias("sx_i"),
        F.sum(F.col("ry2").cast("decimal(38,0)")).alias("sy_i"),
        F.sum((F.col("rx2") * F.col("rx2")).cast("decimal(38,0)")).alias("sxx_i"),
        F.sum((F.col("ry2") * F.col("ry2")).cast("decimal(38,0)")).alias("syy_i"),
        F.sum((F.col("rx2") * F.col("ry2")).cast("decimal(38,0)")).alias("sxy_i"),
    )
    # quotient+remainder split: exact-integer sums pass 2^63 at sf1,
    # where plain decimal->double casts round differently per engine
    s = si.select(
        "flag",
        "n_rows",
        *[
            F.expr(
                f"(CAST({c}_i DIV 67108864 AS DOUBLE) * 67108864.0"
                f" + CAST({c}_i % 67108864 AS DOUBLE))"
            ).alias(c)
            for c in ("sx", "sy", "sxx", "syy", "sxy")
        ],
    )
    return s.select(
        "flag",
        "n_rows",
        # NULLIF guard (CROSS_ENGINE rule 40): a constant-valued or
        # 1-row group zeroes a variance term; ANSI Spark throws on /0
        F.expr(
            "(CAST(n_rows AS DOUBLE) * sxy - sx * sy)"
            " / NULLIF(sqrt(CAST(n_rows AS DOUBLE) * sxx - sx * sx)"
            " * sqrt(CAST(n_rows AS DOUBLE) * syy - sy * sy), 0)"
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Ridge regression (2 regressors + intercept) via closed-form normal equations
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 1000000.0

# Shared 3x3 Cramer solve on the 9 exact moment columns (n, s1, s2, sy,
# s11, s12, s22, s1y, s2y are bit-identical doubles cast from DECIMAL
# sums on both engines, lam is a literal): determinants are a fixed
# expression tree, so both engines round identically (rules 1-2).
_RIDGE_DET = (
    "(nn * ((s11 + lam) * (s22 + lam) - s12 * s12)"
    " - s1 * (s1 * (s22 + lam) - s12 * s2)"
    " + s2 * (s1 * s12 - (s11 + lam) * s2))"
)
_RIDGE_B0 = (
    "(sy * ((s11 + lam) * (s22 + lam) - s12 * s12)"
    " - s1 * (s1y * (s22 + lam) - s12 * s2y)"
    " + s2 * (s1y * s12 - (s11 + lam) * s2y))"
)
_RIDGE_B1 = (
    "(nn * (s1y * (s22 + lam) - s12 * s2y)"
    " - sy * (s1 * (s22 + lam) - s12 * s2)"
    " + s2 * (s1 * s2y - s1y * s2))"
)
_RIDGE_B2 = (
    "(nn * ((s11 + lam) * s2y - s1y * s12)"
    " - s1 * (s1 * s2y - s1y * s2)"
    " + sy * (s1 * s12 - (s11 + lam) * s2))"
)


@register(
    "ridge_normal_equations",
    "Closed-form ridge regression per return flag: quantity ~ "
    "price_cents + discount_bp with L2 penalty lambda=1e6 on the two "
    "slopes (intercept unpenalized — the standard convention), "
    "solved by Cramer's rule on the 3x3 normal equations. The nine "
    "sufficient statistics are ONE exact DECIMAL(38,0) aggregate "
    "pass over the fact table (price^2 sums pass 2^53 long before "
    "sf1 — rule 1), cast to double once; the three determinants are "
    "a single shared IEEE expression tree (rule 2), so both engines "
    "produce bit-identical coefficients. The multivariate sibling "
    "of the wave-13 per-nation simple OLS: map-side-combinable "
    "moments, zero extra shuffles beyond the group-by. Moment sums "
    "pass 2^63 at sf1, so every sum reaches DOUBLE via the "
    "quotient+remainder split (wave10_queries._split_double) — "
    "plain decimal/hugeint->double casts round differently per "
    "engine above 2^63.",
    f"""
    WITH li AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS y,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2
      FROM lineitem
    ),
    s AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(x1) AS s1_i, SUM(x2) AS s2_i, SUM(y) AS sy_i,
             SUM(x1 * x1) AS s11_i, SUM(x1 * x2) AS s12_i,
             SUM(x2 * x2) AS s22_i,
             SUM(x1 * y) AS s1y_i, SUM(x2 * y) AS s2y_i
      FROM li GROUP BY flag
    ),
    d AS (
      SELECT flag, n_rows,
             CAST(n_rows AS DOUBLE) AS nn,
             {_split_double('s1_i').format(**_SPLIT_DUCK)} AS s1,
             {_split_double('s2_i').format(**_SPLIT_DUCK)} AS s2,
             {_split_double('sy_i').format(**_SPLIT_DUCK)} AS sy,
             {_split_double('s11_i').format(**_SPLIT_DUCK)} AS s11,
             {_split_double('s12_i').format(**_SPLIT_DUCK)} AS s12,
             {_split_double('s22_i').format(**_SPLIT_DUCK)} AS s22,
             {_split_double('s1y_i').format(**_SPLIT_DUCK)} AS s1y,
             {_split_double('s2y_i').format(**_SPLIT_DUCK)} AS s2y,
             CAST({_RIDGE_LAMBDA} AS DOUBLE) AS lam
      FROM s
    )
    SELECT flag, n_rows,
           {_RIDGE_B0} / {_RIDGE_DET} AS beta0,
           {_RIDGE_B1} / {_RIDGE_DET} AS beta1,
           {_RIDGE_B2} / {_RIDGE_DET} AS beta2
    FROM d
    """,
)
def q_ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("y"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
    )

    def isum(expr: str, alias: str):
        return F.sum(F.expr(expr).cast("decimal(38,0)")).alias(alias)

    def split(name: str, alias: str):
        return F.expr(_split_double(name).format(**_SPLIT_SPARK)).alias(alias)

    s = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        isum("x1", "s1_i"),
        isum("x2", "s2_i"),
        isum("y", "sy_i"),
        isum("x1 * x1", "s11_i"),
        isum("x1 * x2", "s12_i"),
        isum("x2 * x2", "s22_i"),
        isum("x1 * y", "s1y_i"),
        isum("x2 * y", "s2y_i"),
    )
    d = s.select(
        "flag",
        "n_rows",
        F.col("n_rows").cast("double").alias("nn"),
        split("s1_i", "s1"),
        split("s2_i", "s2"),
        split("sy_i", "sy"),
        split("s11_i", "s11"),
        split("s12_i", "s12"),
        split("s22_i", "s22"),
        split("s1y_i", "s1y"),
        split("s2y_i", "s2y"),
        F.lit(_RIDGE_LAMBDA).cast("double").alias("lam"),
    )
    return d.select(
        "flag",
        "n_rows",
        F.expr(f"{_RIDGE_B0} / {_RIDGE_DET}").alias("beta0"),
        F.expr(f"{_RIDGE_B1} / {_RIDGE_DET}").alias("beta1"),
        F.expr(f"{_RIDGE_B2} / {_RIDGE_DET}").alias("beta2"),
    )


# ---------------------------------------------------------------------------
# Candidate-and-verify exact heavy hitters (space-saving style)
# ---------------------------------------------------------------------------

_HH_SHARDS = 32
_HH_PER_SHARD = 20
_HH_TOPK = 10


@register(
    "heavy_hitters_candidate_verify",
    "Candidate-and-verify heavy hitters: each of 32 deterministic "
    "shards (l_orderkey % 32 — the partition stand-in) nominates its "
    "local top-20 part keys, the candidate union is exactly "
    "re-counted (semi-join — only candidates touch the second pass), "
    "and the result is audited against the TRUE top-10: per true "
    "heavy hitter, was it nominated? This is the mergeable-summary "
    "top-k pattern (Misra-Gries/space-saving shape) with its recall "
    "MEASURED rather than assumed — the companion to the CMS point "
    "estimates (heavy_hitters_cms). All exact integers; ranks use "
    "the (count DESC, partkey) total order (rule 20). Scale: two "
    "grouped aggregates + one bounded candidate semi-join; the "
    "driver never sees per-key state.",
    f"""
    WITH shard AS (
      SELECT l_orderkey % {_HH_SHARDS} AS sh, l_partkey AS pk,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    nominated AS (
      SELECT DISTINCT pk FROM (
        SELECT pk, ROW_NUMBER() OVER (PARTITION BY sh
                 ORDER BY cnt DESC, pk) AS r
        FROM shard
      ) WHERE r <= {_HH_PER_SHARD}
    )
    SELECT CAST(t.true_rank AS BIGINT) AS true_rank, t.pk AS partkey,
           t.n_rows,
           n.pk IS NOT NULL AS in_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nominated) AS n_candidates
    FROM (SELECT pk, n_rows, true_rank FROM (
            SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_partkey)
                     AS true_rank
            FROM lineitem GROUP BY l_partkey
          ) WHERE true_rank <= {_HH_TOPK}) t
    LEFT JOIN nominated n ON n.pk = t.pk
    """,
)
def q_heavy_hitters_candidate_verify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    shard = li.groupBy(
        (F.col("l_orderkey") % _HH_SHARDS).alias("sh"),
        F.col("l_partkey").alias("pk"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("sh").orderBy(F.col("cnt").desc(), "pk")
    nominated = (
        shard.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _HH_PER_SHARD)
        .select("pk")
        .distinct()
    )
    truth = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "pk")
        .limit(_HH_TOPK)
        .withColumn(
            "true_rank",
            F.row_number().over(Window.orderBy(F.col("n_rows").desc(), "pk")),
        )
    )
    ncand = nominated.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    return dq.scalar_join(
        truth.join(
            nominated.withColumn("hit", F.lit(True)), "pk", "left"
        ),
        ncand,
    ).select(
        F.col("true_rank").cast("bigint").alias("true_rank"),
        F.col("pk").alias("partkey"),
        "n_rows",
        F.col("hit").isNotNull().alias("in_candidates"),
        "n_candidates",
    )


# ---------------------------------------------------------------------------
# Quantile sketch (hash-sample) error measurement
# ---------------------------------------------------------------------------

_QSE_SAMPLE_PCT = 5
_QSE_TARGETS = [(500000, "p50"), (900000, "p90"), (990000, "p99")]


@register(
    "quantile_sketch_error_eval",
    "Sample-quantile sketch with MEASURED rank error: a portable "
    "5% md5-hash sample of lineitem prices plays the sketch, its "
    "discrete p50/p90/p99 are compared to the exact ones, and the "
    "achieved rank of each sample estimate (count of rows <= "
    "estimate, from ONE conditional-aggregate scan against the 3 "
    "broadcast scalars) is reported in ppm against the target rank "
    "— completing the sketch-eval family (KMV cardinality, CMS "
    "counts, Bloom membership: quantiles were the missing one). "
    "Discrete percentiles only (rule 7 — values re-enter integer "
    "comparisons), exact BIGINT counts, truncated-ppm ranks "
    "(rule 4). Scale: hash sampling is stateless per row, both "
    "quantile passes are single aggregates, no sort of the full "
    "data.",
    f"""
    WITH li AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
               AS VARCHAR)), 1, 15))::BIGINT % 100 AS hb
      FROM lineitem
    ),
    ex AS (
      SELECT quantile_disc(cents, 0.50) AS e50,
             quantile_disc(cents, 0.90) AS e90,
             quantile_disc(cents, 0.99) AS e99,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM li
    ),
    sm AS (
      SELECT quantile_disc(cents, 0.50) AS s50,
             quantile_disc(cents, 0.90) AS s90,
             quantile_disc(cents, 0.99) AS s99,
             CAST(COUNT(*) AS BIGINT) AS n_sample
      FROM li WHERE hb < {_QSE_SAMPLE_PCT}
    ),
    ranks AS (
      SELECT CAST(SUM(CASE WHEN li.cents <= sm.s50 THEN 1 ELSE 0 END)
               AS BIGINT) AS r50,
             CAST(SUM(CASE WHEN li.cents <= sm.s90 THEN 1 ELSE 0 END)
               AS BIGINT) AS r90,
             CAST(SUM(CASE WHEN li.cents <= sm.s99 THEN 1 ELSE 0 END)
               AS BIGINT) AS r99
      FROM li, sm
    )
    SELECT 'p50' AS quantile_label, CAST(500000 AS BIGINT) AS target_ppm,
           CAST(ex.e50 AS BIGINT) AS exact_cents, CAST(sm.s50 AS BIGINT) AS sample_cents,
           CAST(ranks.r50 * 1000000 // ex.n AS BIGINT) AS achieved_ppm,
           abs(CAST(ranks.r50 * 1000000 // ex.n AS BIGINT) - 500000)
             AS rank_error_ppm,
           sm.n_sample
    FROM ex, sm, ranks
    UNION ALL
    SELECT 'p90', CAST(900000 AS BIGINT), CAST(ex.e90 AS BIGINT), CAST(sm.s90 AS BIGINT),
           CAST(ranks.r90 * 1000000 // ex.n AS BIGINT),
           abs(CAST(ranks.r90 * 1000000 // ex.n AS BIGINT) - 900000),
           sm.n_sample
    FROM ex, sm, ranks
    UNION ALL
    SELECT 'p99', CAST(990000 AS BIGINT), CAST(ex.e99 AS BIGINT), CAST(sm.s99 AS BIGINT),
           CAST(ranks.r99 * 1000000 // ex.n AS BIGINT),
           abs(CAST(ranks.r99 * 1000000 // ex.n AS BIGINT) - 990000),
           sm.n_sample
    FROM ex, sm, ranks
    """,
)
def q_quantile_sketch_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
                            "string"
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("hb"),
    )
    ex = li.agg(
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)").alias("e50"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)").alias("e90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").alias("e99"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    sm = li.filter(F.col("hb") < _QSE_SAMPLE_PCT).agg(
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)").alias("s50"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)").alias("s90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").alias("s99"),
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
    )
    ranks = dq.scalar_join(li, sm).agg(
        F.sum(F.when(F.col("cents") <= F.col("s50"), 1).otherwise(0))
        .cast("bigint")
        .alias("r50"),
        F.sum(F.when(F.col("cents") <= F.col("s90"), 1).otherwise(0))
        .cast("bigint")
        .alias("r90"),
        F.sum(F.when(F.col("cents") <= F.col("s99"), 1).otherwise(0))
        .cast("bigint")
        .alias("r99"),
    )
    one = dq.scalar_join(ex, sm, ranks)
    rows = []
    for target, label in _QSE_TARGETS:
        suffix = label[1:]
        rows.append(
            one.select(
                F.lit(label).alias("quantile_label"),
                F.lit(target).cast("bigint").alias("target_ppm"),
                F.col(f"e{suffix}").cast("bigint").alias("exact_cents"),
                F.col(f"s{suffix}").cast("bigint").alias("sample_cents"),
                F.expr(f"CAST(r{suffix} * 1000000 DIV n AS BIGINT)").alias(
                    "achieved_ppm"
                ),
                F.expr(
                    f"abs(CAST(r{suffix} * 1000000 DIV n AS BIGINT) - {target})"
                ).alias("rank_error_ppm"),
                "n_sample",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Delta-method CI for a ratio metric (spend per order) per segment
# ---------------------------------------------------------------------------


@register(
    "ratio_metric_delta_ci",
    "Delta-method confidence interval for a RATIO metric — spend "
    "per order by market segment, the canonical hard case in "
    "experiment readouts (both numerator and denominator are "
    "per-customer random variables; naive per-row averaging is "
    "biased). R = sum(x)/sum(y) over per-customer (spend cents, "
    "order count); since dbar = xbar - R*ybar = 0 by construction, "
    "Var(R) = (sxx - 2R sxy + R^2 syy)/((n-1) n ybar^2) and the "
    "95% CI is R +/- 1.96 se. All five moments are ONE exact "
    "integer aggregate pass (quotient+remainder split past 2^63), "
    "and R/se/CI are a single shared IEEE tree (rules 1-2, 8). "
    "Map-side-combinable; one customer-grain shuffle + segment "
    "rollup.",
    f"""
    WITH cust AS (
      SELECT c.c_mktsegment AS segment,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    s AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(x) AS sx_i, SUM(y) AS sy_i,
             SUM(x * x) AS sxx_i, SUM(x * y) AS sxy_i, SUM(y * y) AS syy_i
      FROM cust GROUP BY segment
    ),
    d AS (
      SELECT segment, n_customers,
             CAST(n_customers AS DOUBLE) AS nn,
             {_split_double('sx_i').format(**_SPLIT_DUCK)} AS sx,
             {_split_double('sy_i').format(**_SPLIT_DUCK)} AS sy,
             {_split_double('sxx_i').format(**_SPLIT_DUCK)} AS sxx,
             {_split_double('sxy_i').format(**_SPLIT_DUCK)} AS sxy,
             {_split_double('syy_i').format(**_SPLIT_DUCK)} AS syy
      FROM s
    )
    SELECT segment, n_customers,
           (sx / sy) / 100.0 AS spend_per_order,
           sqrt((sxx - 2.0 * (sx / sy) * sxy
                 + (sx / sy) * (sx / sy) * syy)
                / NULLIF((nn - 1.0) * nn, 0) / ((sy / nn) * (sy / nn))) / (nn * 100.0)
             * nn AS se_dollars,
           (sx / sy) / 100.0
             - 1.96 * (sqrt((sxx - 2.0 * (sx / sy) * sxy
                 + (sx / sy) * (sx / sy) * syy)
                / NULLIF((nn - 1.0) * nn, 0) / ((sy / nn) * (sy / nn))) / (nn * 100.0)
             * nn) AS ci_lo,
           (sx / sy) / 100.0
             + 1.96 * (sqrt((sxx - 2.0 * (sx / sy) * sxy
                 + (sx / sy) * (sx / sy) * syy)
                / NULLIF((nn - 1.0) * nn, 0) / ((sy / nn) * (sy / nn))) / (nn * 100.0)
             * nn) AS ci_hi
    FROM d
    """,
)
def q_ratio_metric_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
    )
    s = cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx_i"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy_i"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx_i"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy_i"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy_i"),
    )
    d = s.select(
        "segment",
        "n_customers",
        F.col("n_customers").cast("double").alias("nn"),
        *[
            F.expr(_split_double(f"{c_}_i").format(**_SPLIT_SPARK)).alias(c_)
            for c_ in ("sx", "sy", "sxx", "sxy", "syy")
        ],
    )
    # NULLIF guard (rule 40): a 1-customer segment zeroes (nn-1)*nn
    se = (
        "sqrt((sxx - 2.0 * (sx / sy) * sxy"
        " + (sx / sy) * (sx / sy) * syy)"
        " / NULLIF((nn - 1.0) * nn, 0) / ((sy / nn) * (sy / nn))) / (nn * 100.0)"
        " * nn"
    )
    return d.select(
        "segment",
        "n_customers",
        F.expr("(sx / sy) / 100.0").alias("spend_per_order"),
        F.expr(se).alias("se_dollars"),
        F.expr(f"(sx / sy) / 100.0 - 1.96 * ({se})").alias("ci_lo"),
        F.expr(f"(sx / sy) / 100.0 + 1.96 * ({se})").alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F statistic across order priorities
# ---------------------------------------------------------------------------


@register(
    "anova_oneway_fstat",
    "One-way ANOVA across the five order priorities on order value "
    "(whole dollars): F = (SSB/(k-1)) / (SSW/(N-k)) with "
    "SSB = sum_g S_g^2/n_g - S^2/N and SSW = sum x^2 - sum_g "
    "S_g^2/n_g, every term an EXACT integer — the per-group "
    "S_g^2 DIV n_g truncation (at most k dollars^2, defined into "
    "the statistic) keeps the cross-group sum order-free where "
    "floating addition would diverge per engine; dollars (not "
    "cents) keep S_g^2 DIV n_g inside BIGINT through sf100. F and "
    "eta^2 are one shared IEEE tree over the split-converted exact "
    "integers (rules 1-2). The parametric completion of the "
    "rank-based family (Mann-Whitney, Kruskal-style QQ). One "
    "grouped aggregate + a 5-row rollup.",
    f"""
    WITH o AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(x) AS s_g,
             SUM(x * x) AS ss_g
      FROM o GROUP BY grp
    ),
    t AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(s_g) AS s,
             SUM(ss_g) AS ss,
             SUM(s_g * s_g // n_g) AS a
      FROM g
    ),
    e AS (
      SELECT n, k,
             {_split_double('(a - (s * s // n))').format(**_SPLIT_DUCK)} AS ssb,
             {_split_double('(ss - a)').format(**_SPLIT_DUCK)} AS ssw
      FROM t
    )
    SELECT n AS n_orders, k AS n_groups,
           ssb AS ss_between, ssw AS ss_within,
           (ssb / NULLIF(CAST(k - 1 AS DOUBLE), 0))
             / NULLIF(ssw / NULLIF(CAST(n - k AS DOUBLE), 0), 0)
             AS f_stat,
           ssb / NULLIF(ssb + ssw, 0) AS eta_squared
    FROM e
    """,
)
def q_anova_oneway_fstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
    )
    g = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("ss_g"),
    )
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.expr("CAST(s_g AS DECIMAL(38,0)) * s_g DIV n_g")).alias("a"),
    )
    e = t.select(
        "n",
        "k",
        F.expr(
            _split_double("(a - (CAST(s AS DECIMAL(38,0)) * s DIV n))").format(
                **_SPLIT_SPARK
            )
        ).alias("ssb"),
        F.expr(_split_double("(ss - a)").format(**_SPLIT_SPARK)).alias("ssw"),
    )
    return e.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_groups"),
        F.col("ssb").alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        # NULLIF guards (CROSS_ENGINE rule 40): a 1-group / 1-row input
        # zeroes k-1, n-k, and ssb+ssw — Spark ANSI throws on ANY /0
        # (double included) where DuckDB yields NULL, so the guard makes
        # both engines emit NULL; populated SFs never hit it
        F.expr(
            "(ssb / NULLIF(CAST(k - 1 AS DOUBLE), 0))"
            " / NULLIF(ssw / NULLIF(CAST(n - k AS DOUBLE), 0), 0)"
        ).alias("f_stat"),
        F.expr("ssb / NULLIF(ssb + ssw, 0)").alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Weekday-uniformity chi-square per year
# ---------------------------------------------------------------------------


@register(
    "weekday_uniformity_chi2",
    "Order-volume weekday-uniformity chi-square per calendar year: "
    "chi2 = sum_d (O_d - n/7)^2 / (n/7) computed EXACTLY as "
    "sum(7*O_d - n)^2 / (7n) — the numerator is a pure BIGINT sum "
    "(no per-cell division, rule 4), the statistic is ONE IEEE "
    "division, and the 95% verdict compares against the literal "
    "chi2(6) critical value 12.592. The operational-cadence twin of "
    "the distribution-drift chi2 (different null: uniform across "
    "weekdays vs a reference corpus). Spark dayofweek == DuckDB "
    "isodow after the +/-1 alignment both engines document; we use "
    "(epoch-day + 4) % 7 instead — pure integer arithmetic, "
    "identical by construction (1970-01-01 was a Thursday). One "
    "scan, 7 x years cells.",
    """
    WITH o AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             (epoch_us(o_orderdate) // 86400000000 + 4) % 7 AS dow
      FROM orders
    ),
    cells AS (
      SELECT yr, dow, CAST(COUNT(*) AS BIGINT) AS o_d
      FROM o GROUP BY yr, dow
    ),
    y0 AS (
      SELECT yr, o_d, SUM(o_d) OVER (PARTITION BY yr) AS n
      FROM cells
    ),
    y AS (
      -- weekdays with zero orders contribute (7*0 - n)^2 = n^2 each
      SELECT yr, CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM((7 * o_d - n) * (7 * o_d - n))
                  + (7 - COUNT(*)) * MAX(n) * MAX(n) AS BIGINT) AS num
      FROM y0 GROUP BY yr
    )
    SELECT yr, n AS n_orders,
           CAST(num AS DOUBLE) / CAST(7 * n AS DOUBLE) AS chi2_stat,
           CAST(num AS DOUBLE) / CAST(7 * n AS DOUBLE) > 12.592
             AS nonuniform_95
    FROM y
    """,
)
def q_weekday_uniformity_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.expr("(unix_micros(o_orderdate) DIV 86400000000 + 4) % 7").alias(
            "dow"
        ),
    )
    cells = o.groupBy("yr", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("o_d")
    )
    wyr = Window.partitionBy("yr")
    y0 = cells.select("yr", "o_d", F.sum("o_d").over(wyr).alias("n"))
    dev = 7 * F.col("o_d") - F.col("n")
    # weekdays with zero orders contribute (7*0 - n)^2 = n^2 each
    y = y0.groupBy("yr").agg(
        F.max("n").cast("bigint").alias("n"),
        (
            F.sum(dev * dev)
            + (7 - F.count(F.lit(1))) * F.max("n") * F.max("n")
        )
        .cast("bigint")
        .alias("num"),
    )
    chi2 = F.expr("CAST(num AS DOUBLE) / CAST(7 * n AS DOUBLE)")
    return y.select(
        "yr",
        F.col("n").alias("n_orders"),
        chi2.alias("chi2_stat"),
        (chi2 > 12.592).alias("nonuniform_95"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t between URGENT and LOW order values
# ---------------------------------------------------------------------------

# identical text in Spark and DuckDB: one shared IEEE tree per output
_W_M1 = "(sx1d / nn1)"
_W_M2 = "(sx2d / nn2)"
_W_V1 = f"((sxx1d - sx1d * sx1d / nn1) / (nn1 - 1.0))"
_W_V2 = f"((sxx2d - sx2d * sx2d / nn2) / (nn2 - 1.0))"
_W_A = f"({_W_V1} / nn1)"
_W_B = f"({_W_V2} / nn2)"


@register(
    "welch_t_urgent_vs_low",
    "Welch's unequal-variance two-sample t between 1-URGENT and 5-LOW "
    "order values (whole dollars) with the Welch-Satterthwaite df — "
    "the parametric two-group completion of mann_whitney_u_segments "
    "(same null, rank-free vs rank-based). Group moments are EXACT "
    "integers from ONE conditional-aggregate scan (dollars keep "
    "sum-of-squares inside DECIMAL split validity through sf100, rule "
    "35); t and df are one shared IEEE tree spelled identically in "
    "both engines (rules 1-2, 8). Map-side combinable: the whole "
    "query is a single 1-row aggregate.",
    f"""
    WITH o AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice) AS BIGINT) AS x
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    s AS (
      SELECT
        CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN grp = '1-URGENT' THEN x ELSE 0 END) AS BIGINT) AS sx1,
        SUM(CASE WHEN grp = '1-URGENT' THEN x * x ELSE 0 END) AS sxx1,
        CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN grp = '5-LOW' THEN x ELSE 0 END) AS BIGINT) AS sx2,
        SUM(CASE WHEN grp = '5-LOW' THEN x * x ELSE 0 END) AS sxx2
      FROM o
    ),
    e AS (
      SELECT n1, n2,
             CAST(n1 AS DOUBLE) AS nn1, CAST(n2 AS DOUBLE) AS nn2,
             CAST(sx1 AS DOUBLE) AS sx1d, CAST(sx2 AS DOUBLE) AS sx2d,
             {_du('sxx1')} AS sxx1d, {_du('sxx2')} AS sxx2d
      FROM s
    )
    SELECT n1 AS n_urgent, n2 AS n_low,
           {_W_M1} AS mean_urgent, {_W_M2} AS mean_low,
           ({_W_M1} - {_W_M2}) / sqrt({_W_A} + {_W_B}) AS t_stat,
           (({_W_A} + {_W_B}) * ({_W_A} + {_W_B}))
             / ({_W_A} * {_W_A} / (nn1 - 1.0)
                + {_W_B} * {_W_B} / (nn2 - 1.0)) AS welch_df
    FROM e
    """,
)
def q_welch_t_urgent_vs_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
    )
    urgent = F.col("grp") == "1-URGENT"
    low = F.col("grp") == "5-LOW"
    xx = (F.col("x") * F.col("x")).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    s = o.agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(urgent, F.col("x")).otherwise(0)).cast("bigint").alias("sx1"),
        F.sum(F.when(urgent, xx).otherwise(zero)).alias("sxx1"),
        F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(low, F.col("x")).otherwise(0)).cast("bigint").alias("sx2"),
        F.sum(F.when(low, xx).otherwise(zero)).alias("sxx2"),
    )
    e = s.select(
        "n1",
        "n2",
        F.col("n1").cast("double").alias("nn1"),
        F.col("n2").cast("double").alias("nn2"),
        F.col("sx1").cast("double").alias("sx1d"),
        F.col("sx2").cast("double").alias("sx2d"),
        F.expr(_sp("sxx1")).alias("sxx1d"),
        F.expr(_sp("sxx2")).alias("sxx2d"),
    )
    return e.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        F.expr(_W_M1).alias("mean_urgent"),
        F.expr(_W_M2).alias("mean_low"),
        F.expr(f"({_W_M1} - {_W_M2}) / sqrt({_W_A} + {_W_B})").alias("t_stat"),
        F.expr(
            f"(({_W_A} + {_W_B}) * ({_W_A} + {_W_B}))"
            f" / ({_W_A} * {_W_A} / (nn1 - 1.0)"
            f"    + {_W_B} * {_W_B} / (nn2 - 1.0))"
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Jackknife (leave-one-nation-out) variance of the mean order value
# ---------------------------------------------------------------------------


@register(
    "jackknife_nation_mean",
    "Delete-one-group jackknife variance of the mean order value, "
    "groups = customer nations: theta_i = leave-nation-i-out mean in "
    "EXACT micro-dollars (DECIMAL product, truncating DIV defined "
    "into the estimator), theta_bar = integral mean of the 25 "
    "pseudo-values, and var_jk = (g-1)/g * sum(dev^2) from an exact "
    "DECIMAL sum of integer squared deviations, split-converted once "
    "(rule 35). The grouped-data robustness twin of "
    "subsample_median_stability (mean vs median, delete-a-group vs "
    "subsample). One orders-customer join (AQE decides the build "
    "side), a 25-row group table, then driver-free scalar algebra "
    "via 1-row broadcast joins.",
    f"""
    WITH oc AS (
      SELECT n.n_name AS nation,
             CAST(round(o.o_totalprice) AS BIGINT) AS x
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(x) AS BIGINT) AS s_i
      FROM oc GROUP BY nation
    ),
    tot AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(s_i) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS gcnt
      FROM g
    ),
    theta AS (
      SELECT CAST(CAST(s - s_i AS HUGEINT) * 1000000 // NULLIF(n - n_i, 0)
                  AS BIGINT) AS th
      FROM g CROSS JOIN tot
    ),
    tbar AS (
      SELECT CAST(SUM(th) // COUNT(*) AS BIGINT) AS tb FROM theta
    ),
    dev AS (
      SELECT SUM(CAST(th - tb AS HUGEINT) * (th - tb)) AS ssd
      FROM theta CROSS JOIN tbar
    )
    SELECT gcnt AS n_groups, n AS n_orders,
           CAST(CAST(s AS HUGEINT) * 1000000 // NULLIF(n, 0) AS BIGINT)
             AS mean_micro_dollars,
           (CAST(gcnt AS DOUBLE) - 1.0) / CAST(gcnt AS DOUBLE)
             * {_du('ssd')} / 1e12 AS var_jk_dollars2,
           sqrt((CAST(gcnt AS DOUBLE) - 1.0) / CAST(gcnt AS DOUBLE)
                * {_du('ssd')} / 1e12) AS se_jk_dollars
    FROM tot CROSS JOIN dev
    """,
)
def q_jackknife_nation_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    oc = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
        )
    )
    g = oc.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("x").cast("bigint").alias("s_i"),
    )
    tot = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("gcnt"),
    )
    theta = (
        g.crossJoin(F.broadcast(tot))
        .select(
            # NULLIF guard (CROSS_ENGINE rule 40): a single-group input
            # zeroes the leave-one-out count n - n_i
            F.expr(
                "CAST(CAST(s - s_i AS DECIMAL(38,0)) * 1000000"
                " DIV NULLIF(n - n_i, 0) AS BIGINT)"
            ).alias("th")
        )
    )
    tbar = theta.agg(
        F.expr("CAST(SUM(th) DIV COUNT(*) AS BIGINT)").alias("tb")
    )
    dev = theta.crossJoin(F.broadcast(tbar)).agg(
        F.sum(
            F.expr("CAST(th - tb AS DECIMAL(38,0)) * (th - tb)")
        ).alias("ssd")
    )
    var_expr = (
        "(CAST(gcnt AS DOUBLE) - 1.0) / CAST(gcnt AS DOUBLE)"
        f" * {_sp('ssd')} / 1e12"
    )
    return dq.scalar_join(tot, dev).select(
        F.col("gcnt").alias("n_groups"),
        F.col("n").alias("n_orders"),
        F.expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 DIV NULLIF(n, 0)"
            " AS BIGINT)"
        ).alias("mean_micro_dollars"),
        F.expr(var_expr).alias("var_jk_dollars2"),
        F.expr(f"sqrt({var_expr})").alias("se_jk_dollars"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test: return rate vs quantity
# ---------------------------------------------------------------------------


@register(
    "cochran_armitage_trend",
    "Cochran-Armitage trend test for return rate across ordered "
    "quantity scores (w = integral l_quantity, outcome = returnflag "
    "'R'): chi2(1) = N*D^2 / (R*(N-R)*V) with D = N*sum(w*y) - "
    "R*sum(w) and V = N*sum(w^2) - sum(w)^2 — both computed in "
    "DECIMAL(38,0) from five BIGINT sums gathered in ONE scan (D "
    "passes 2^63 by sf100: rule-35 split conversion), the statistic "
    "one shared IEEE tree, the 95% verdict vs the literal chi2(1) "
    "critical value 3.841. The ordered-dose completion of "
    "cramers_v_association (nominal) and ab_test_two_proportion "
    "(two-level). Fully map-side combinable.",
    f"""
    WITH l AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS w,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS r,
             CAST(SUM(w) AS BIGINT) AS swn,
             CAST(SUM(w * y) AS BIGINT) AS swr,
             CAST(SUM(w * w) AS BIGINT) AS sw2n
      FROM l
    ),
    e AS (
      SELECT n, r,
             {_du('(CAST(n AS HUGEINT) * swr - CAST(r AS HUGEINT) * swn)')} AS dd,
             {_du('(CAST(n AS HUGEINT) * sw2n - CAST(swn AS HUGEINT) * swn)')} AS vv
      FROM s
    )
    SELECT n AS n_lines, r AS n_returned,
           (CAST(n AS DOUBLE) * dd * dd)
             / NULLIF(CAST(r AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))
                      * vv, 0) AS chi2_trend,
           (CAST(n AS DOUBLE) * dd * dd)
             / NULLIF(CAST(r AS DOUBLE)
                      * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))
                      * vv, 0) > 3.841 AS trend_95
    FROM e
    """,
)
def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    s = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("r"),
        F.sum("w").cast("bigint").alias("swn"),
        F.sum(F.col("w") * F.col("y")).cast("bigint").alias("swr"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sw2n"),
    )
    e = s.select(
        "n",
        "r",
        F.expr(
            _sp(
                "(CAST(n AS DECIMAL(38,0)) * swr"
                " - CAST(r AS DECIMAL(38,0)) * swn)"
            )
        ).alias("dd"),
        F.expr(
            _sp(
                "(CAST(n AS DECIMAL(38,0)) * sw2n"
                " - CAST(swn AS DECIMAL(38,0)) * swn)"
            )
        ).alias("vv"),
    )
    # NULLIF guard (CROSS_ENGINE rule 40): all-returned / none-returned
    # / constant-quantity inputs zero the denominator
    chi2 = (
        "(CAST(n AS DOUBLE) * dd * dd)"
        " / NULLIF(CAST(r AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))"
        " * vv, 0)"
    )
    return e.select(
        F.col("n").alias("n_lines"),
        F.col("r").alias("n_returned"),
        F.expr(chi2).alias("chi2_trend"),
        F.expr(f"{chi2} > 3.841").alias("trend_95"),
    )


# ---------------------------------------------------------------------------
# Chapman capture-recapture population estimate per event type
# ---------------------------------------------------------------------------

# all four factors are exact integers < 2^53 converted once; one tree
_CH_NHAT = (
    "CAST((CAST(n1 AS {bigty}) + 1) * (n2 + 1) {div} (m + 1) - 1"
    " AS BIGINT)"
)
_CH_VAR = (
    "((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)"
    " * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))"
    " * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE)))"
    " / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0)"
    "    * (CAST(m AS DOUBLE) + 2.0))"
)


@register(
    "capture_recapture_chapman",
    "Chapman capture-recapture estimate of the active-user population "
    "per event type: capture 1 = users seen in the first half of the "
    "date range, capture 2 = the second half, m = recaptured in both; "
    "N_hat = (n1+1)(n2+1) DIV (m+1) - 1 (truncation defined into the "
    "estimator) with the Seber variance as one shared IEEE tree over "
    "exact counts. The population-size sibling of "
    "source_minhash_similarity (overlap as an estimator input, not a "
    "similarity readout). One shuffle on (event_type, user_id) for "
    "the per-user capture flags, then a bounded per-type rollup; the "
    "half-split day is an integral scalar broadcast.",
    f"""
    WITH e AS (
      SELECT event_type, user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    sp AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM e),
    u AS (
      SELECT event_type, user_id,
             MAX(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS c1,
             MAX(CASE WHEN day > mid THEN 1 ELSE 0 END) AS c2
      FROM e CROSS JOIN sp
      GROUP BY event_type, user_id
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(c1 * c2) AS BIGINT) AS m
      FROM u GROUP BY event_type
    )
    SELECT event_type, n1 AS n_first_half, n2 AS n_second_half,
           m AS n_recaptured,
           {_CH_NHAT.format(bigty='HUGEINT', div='//')} AS n_hat,
           {_CH_VAR} AS var_hat
    FROM s
    """,
)
def q_capture_recapture_chapman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
    )
    sp = ev.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"))
    u = (
        ev.crossJoin(F.broadcast(sp))
        .groupBy("event_type", "user_id")
        .agg(
            F.max(
                F.when(F.col("day") <= F.col("mid"), 1).otherwise(0)
            ).alias("c1"),
            F.max(
                F.when(F.col("day") > F.col("mid"), 1).otherwise(0)
            ).alias("c2"),
        )
    )
    s = u.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("m"),
    )
    return s.select(
        "event_type",
        F.col("n1").alias("n_first_half"),
        F.col("n2").alias("n_second_half"),
        F.col("m").alias("n_recaptured"),
        F.expr(_CH_NHAT.format(bigty="DECIMAL(38,0)", div="DIV")).alias(
            "n_hat"
        ),
        F.expr(_CH_VAR).alias("var_hat"),
    )


# ---------------------------------------------------------------------------
# Pearson standardized residual cells: nation x order priority
# ---------------------------------------------------------------------------

# NULLIF guards (CROSS_ENGINE rule 40): a single-cell table makes the
# cell its own margins (R = C = N), zeroing both variance factors
_PR_E = "(rd * cd / NULLIF(nd, 0))"
_PR_RESID = (
    f"((od - {_PR_E})"
    f" / NULLIF(sqrt({_PR_E} * (1.0 - rd / NULLIF(nd, 0))"
    f" * (1.0 - cd / NULLIF(nd, 0))), 0))"
)


@register(
    "pearson_residual_cells",
    "Haberman standardized Pearson residuals for every (customer "
    "nation x order priority) cell — the drill-down that says WHICH "
    "cells drive the cramers_v_association signal: resid = (O - E) / "
    "sqrt(E (1 - R/N)(1 - C/N)) with O, margins R, C and N exact "
    "integers, E and the residual one shared IEEE tree per cell, "
    "|resid| > 2 flagged. Margins come from windows over the BOUNDED "
    "125-cell table (zero extra scans), N via a 1-row broadcast. One "
    "fact-scale shuffle to the cell counts; nation broadcast into the "
    "join.",
    f"""
    WITH cells AS (
      SELECT n.n_name AS nation, o.o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS o_cnt
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, o.o_orderpriority
    ),
    m AS (
      SELECT nation, priority, o_cnt,
             CAST(SUM(o_cnt) OVER (PARTITION BY nation) AS BIGINT) AS r,
             CAST(SUM(o_cnt) OVER (PARTITION BY priority) AS BIGINT) AS cc
      FROM cells
    ),
    tot AS (SELECT CAST(SUM(o_cnt) AS BIGINT) AS n FROM cells),
    e AS (
      SELECT nation, priority, o_cnt, r, cc,
             CAST(o_cnt AS DOUBLE) AS od, CAST(r AS DOUBLE) AS rd,
             CAST(cc AS DOUBLE) AS cd, CAST(n AS DOUBLE) AS nd
      FROM m CROSS JOIN tot
    )
    SELECT nation, priority, o_cnt AS observed,
           {_PR_E} AS expected,
           {_PR_RESID} AS std_residual,
           abs({_PR_RESID}) > 2.0 AS outlier_2sd
    FROM e
    """,
)
def q_pearson_residual_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    cells = checkpoint(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o_cnt"))
        # r11: cells feeds the margins branch AND the grand-total scalar
        # — checkpoint the bounded 125-cell table once (multi-consumer
        # rule; the upstream is an orders⋈customer join).
    )
    m = cells.select(
        "nation",
        "priority",
        "o_cnt",
        F.sum("o_cnt")
        .over(Window.partitionBy("nation"))
        .cast("bigint")
        .alias("r"),
        F.sum("o_cnt")
        .over(Window.partitionBy("priority"))
        .cast("bigint")
        .alias("cc"),
    )
    tot = cells.agg(F.sum("o_cnt").cast("bigint").alias("n"))
    e = m.crossJoin(F.broadcast(tot)).select(
        "nation",
        "priority",
        "o_cnt",
        F.col("o_cnt").cast("double").alias("od"),
        F.col("r").cast("double").alias("rd"),
        F.col("cc").cast("double").alias("cd"),
        F.col("n").cast("double").alias("nd"),
    )
    return e.select(
        "nation",
        "priority",
        F.col("o_cnt").alias("observed"),
        F.expr(_PR_E).alias("expected"),
        F.expr(_PR_RESID).alias("std_residual"),
        F.expr(f"abs({_PR_RESID}) > 2.0").alias("outlier_2sd"),
    )


# ---------------------------------------------------------------------------
# Cents-digit uniformity (forensic accounting)
# ---------------------------------------------------------------------------


@register(
    "cents_digit_uniformity",
    "Forensic cents-digit test on order totals: the last two cents "
    "digits of genuine arithmetic totals should be ~uniform over "
    "00-99 (fabricated figures cluster on round numbers) — the "
    "complement of benford_leading_digit, which tests the FIRST "
    "digit. chi2(99) = sum(100*O_d - n)^2 / (100 n) with the "
    "numerator an EXACT integer sum (no per-cell division, rule 4; "
    "zero-count cells contribute n^2 each; the sum passes 2^63 by "
    "sf100 so it rides HUGEINT/DECIMAL with a rule-35 split), ONE "
    "IEEE division, verdict vs the literal chi2(99) 95% critical "
    "value 123.225. Fully map-side combinable over a 100-cell state.",
    f"""
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS d
      FROM orders
    ),
    cells AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS o_d FROM o GROUP BY d
    ),
    t AS (
      SELECT CAST(SUM(o_d) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(100 * o_d - (SELECT SUM(o_d) FROM cells) AS HUGEINT)
                 * (100 * o_d - (SELECT SUM(o_d) FROM cells))) AS num_obs
      FROM cells
    ),
    e AS (
      SELECT n, k,
             {_du('(num_obs + (100 - k) * CAST(n AS HUGEINT) * n)')} AS num
      FROM t
    )
    SELECT n AS n_orders, k AS n_digits_observed,
           num / (100.0 * CAST(n AS DOUBLE)) AS chi2_stat,
           num / (100.0 * CAST(n AS DOUBLE)) > 123.225 AS biased_95
    FROM e
    """,
)
def q_cents_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 100).alias(
            "d"
        )
    )
    cells = checkpoint(
        o.groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o_d"))
        # r11: consumed by the total scalar AND the chi2 rollup — one
        # orders scan instead of two (bounded 100-digit table).
    )
    tot = cells.agg(F.sum("o_d").cast("bigint").alias("n"))
    t = cells.crossJoin(F.broadcast(tot)).agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.expr(
                "CAST(100 * o_d - n AS DECIMAL(38,0)) * (100 * o_d - n)"
            )
        ).alias("num_obs"),
    )
    e = t.select(
        "n",
        "k",
        F.expr(
            _sp("(num_obs + (100 - k) * CAST(n AS DECIMAL(38,0)) * n)")
        ).alias("num"),
    )
    return e.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_digits_observed"),
        F.expr("num / (100.0 * CAST(n AS DOUBLE))").alias("chi2_stat"),
        F.expr("num / (100.0 * CAST(n AS DOUBLE)) > 123.225").alias(
            "biased_95"
        ),
    )


# ---------------------------------------------------------------------------
# Huber one-step M-estimator of location per event type
# ---------------------------------------------------------------------------


@register(
    "huber_one_step_location",
    "One-step Huber M-estimator of location per event type (cents): "
    "start at the exact discrete median, tuning constant k = "
    "1.994 * MAD (1.345 sigma under normality via sigma ~ 1.4826 MAD; "
    "both truncating DIVs defined into the estimator), Huber weights "
    "as EXACT ppm integers w = min(1e6, k*1e6 DIV |x - med|), and the "
    "estimate sum(w*x) DIV sum(w) — a float weighted mean would be "
    "partition-order-dependent, the fixed-point one is exact on any "
    "partitioning. Median and MAD are order statistics at rank "
    "(n+1) DIV 2 from the grouped two-phase rank (operators/"
    "ranking.py — no per-type single-reducer sort), making this the "
    "M-estimation completion of robust_anomaly_mad (screen) and "
    "hodges_lehmann_daily (R-estimator). MAD = 0 degrades to the "
    "median exactly (zero weights off-median). Shuffles: two ranked "
    "passes on event_type + the weighted rollup.",
    """
    WITH e AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             (CAST(COUNT(*) AS BIGINT) + 1) // 2 AS med_rank
      FROM e GROUP BY event_type
    ),
    r1 AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rnk
      FROM e
    ),
    med AS (
      SELECT r.event_type, s.n, MAX(r.cents) AS med_cents
      FROM r1 r JOIN st s ON s.event_type = r.event_type
                         AND r.rnk = s.med_rank
      GROUP BY r.event_type, s.n
    ),
    d AS (
      SELECT e.event_type, e.event_id, e.cents, m.n, m.med_cents,
             abs(e.cents - m.med_cents) AS adev
      FROM e JOIN med m ON m.event_type = e.event_type
    ),
    r2 AS (
      SELECT event_type, adev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY adev, event_id) AS rnk
      FROM d
    ),
    mad AS (
      SELECT r.event_type,
             1994 * MAX(r.adev) // 1000 AS k_cents,
             MAX(r.adev) AS mad_cents
      FROM r2 r JOIN st s ON s.event_type = r.event_type
                         AND r.rnk = s.med_rank
      GROUP BY r.event_type
    ),
    w AS (
      SELECT d.event_type, d.n, d.med_cents, m.mad_cents,
             CASE WHEN d.adev <= m.k_cents THEN 1000000
                  ELSE m.k_cents * 1000000 // d.adev END AS w_ppm,
             d.cents
      FROM d JOIN mad m ON m.event_type = d.event_type
    ),
    s AS (
      SELECT event_type, n, med_cents, mad_cents,
             CAST(SUM(w_ppm) AS BIGINT) AS wsum,
             SUM(CAST(w_ppm AS HUGEINT) * cents) AS wx
      FROM w GROUP BY event_type, n, med_cents, mad_cents
    )
    SELECT event_type, n, med_cents AS median_cents, mad_cents,
           CAST(wx // wsum AS BIGINT) AS huber_cents,
           CAST(CAST(wx // wsum AS BIGINT) AS DOUBLE) / 100.0
             AS huber_value
    FROM s
    """,
)
def q_huber_one_step_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 NOTE (measured negative — do not "fix" again): e feeds ~5 plan
    # branches, but checkpointing the 3-column projection measured flat-
    # to-slower (count best-of-5: 1.97/2.14 s vs 2.14 s with barrier) —
    # the branches are cheap pipelined scans of a 2 MB table (skipgram
    # counterexample class); the barrier only adds a materialization.
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("(COUNT(*) + 1) DIV 2").cast("bigint").alias("med_rank"),
    )
    r1 = two_phase_rank_in_groups(
        e,
        group_cols=["event_type"],
        order_by=["cents", "event_id"],
        coarse=F.expr("cents DIV 1000"),
        rank_name="rnk",
    )
    med = (
        r1.join(F.broadcast(st), "event_type")
        .filter(F.col("rnk") == F.col("med_rank"))
        .groupBy("event_type", "n")
        .agg(F.max("cents").alias("med_cents"))
    )
    d = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    r2 = two_phase_rank_in_groups(
        d.select("event_type", "event_id", "adev"),
        group_cols=["event_type"],
        order_by=["adev", "event_id"],
        coarse=F.expr("adev DIV 1000"),
        rank_name="rnk",
    )
    mad = (
        r2.join(F.broadcast(st), "event_type")
        .filter(F.col("rnk") == F.col("med_rank"))
        .groupBy("event_type")
        .agg(
            F.expr("1994 * MAX(adev) DIV 1000").alias("k_cents"),
            F.max("adev").alias("mad_cents"),
        )
    )
    w = d.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "n",
        "med_cents",
        "mad_cents",
        F.expr(
            "CASE WHEN adev <= k_cents THEN 1000000"
            " ELSE k_cents * 1000000 DIV adev END"
        ).alias("w_ppm"),
        "cents",
    )
    s = w.groupBy("event_type", "n", "med_cents", "mad_cents").agg(
        F.sum("w_ppm").cast("bigint").alias("wsum"),
        F.sum(F.expr("CAST(w_ppm AS DECIMAL(38,0)) * cents")).alias("wx"),
    )
    return s.select(
        "event_type",
        "n",
        F.col("med_cents").alias("median_cents"),
        "mad_cents",
        F.expr("CAST(wx DIV wsum AS BIGINT)").alias("huber_cents"),
        F.expr(
            "CAST(CAST(wx DIV wsum AS BIGINT) AS DOUBLE) / 100.0"
        ).alias("huber_value"),
    )


# ---------------------------------------------------------------------------
# Top-k turnover between halves: Jaccard + Spearman footrule
# ---------------------------------------------------------------------------

_TK_K = 20


@register(
    "topk_turnover_footrule",
    f"Rank stability of the top-{_TK_K} parts by revenue between the "
    "first and second half of the ship-date range: set turnover "
    "(Jaccard ppm, truncating DIV) and the Spearman footrule "
    "sum|rank1 - rank2| over the common parts — the leaderboard-drift "
    "monitor that says whether a ranking pipeline's output is stable "
    "period over period. Per-half revenues come from ONE conditional-"
    "aggregate scan; each half's top-k is TakeOrdered (never a global "
    "sort shuffle) with (revenue DESC, partkey) total order (rule "
    "20), ranked by row_number over the k-row bounded frame. One "
    "fact-scale shuffle on partkey; everything after is k-row "
    "algebra.",
    f"""
    WITH l AS (
      SELECT l_partkey AS pk,
             epoch_us(l_shipdate) // 86400000000 AS day,
             CAST(round(l_extendedprice) AS BIGINT) AS rev
      FROM lineitem
    ),
    sp AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM l),
    p AS (
      SELECT pk,
             CAST(SUM(CASE WHEN day <= mid THEN rev ELSE 0 END) AS BIGINT)
               AS rev1,
             CAST(SUM(CASE WHEN day > mid THEN rev ELSE 0 END) AS BIGINT)
               AS rev2
      FROM l CROSS JOIN sp GROUP BY pk
    ),
    t1 AS (
      SELECT pk, rnk FROM (
        SELECT pk, ROW_NUMBER() OVER (ORDER BY rev1 DESC, pk) AS rnk
        FROM p WHERE rev1 > 0
      ) WHERE rnk <= {_TK_K}
    ),
    t2 AS (
      SELECT pk, rnk FROM (
        SELECT pk, ROW_NUMBER() OVER (ORDER BY rev2 DESC, pk) AS rnk
        FROM p WHERE rev2 > 0
      ) WHERE rnk <= {_TK_K}
    ),
    j AS (
      SELECT CAST(COUNT(t1.pk) AS BIGINT) AS k1,
             CAST(COUNT(t2.pk) AS BIGINT) AS k2,
             CAST(SUM(CASE WHEN t1.pk IS NOT NULL AND t2.pk IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
             CAST(COALESCE(SUM(CASE WHEN t1.pk IS NOT NULL
                                     AND t2.pk IS NOT NULL
                           THEN abs(t1.rnk - t2.rnk) END), 0) AS BIGINT)
               AS footrule
      FROM t1 FULL OUTER JOIN t2 ON t2.pk = t1.pk
    )
    SELECT k1 AS n_top_first, k2 AS n_top_second, n_common,
           n_common * 1000000 // (k1 + k2 - n_common) AS jaccard_ppm,
           footrule AS footrule_common
    FROM j
    """,
)
def q_topk_turnover_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.expr("unix_micros(l_shipdate) DIV 86400000000").alias("day"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("rev"),
    )
    sp = li.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"))
    p = (
        li.crossJoin(F.broadcast(sp))
        .groupBy("pk")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("mid"), F.col("rev")).otherwise(0))
            .cast("bigint")
            .alias("rev1"),
            F.sum(F.when(F.col("day") > F.col("mid"), F.col("rev")).otherwise(0))
            .cast("bigint")
            .alias("rev2"),
        )
    )

    def topk(rev_col: str) -> DataFrame:
        top = (
            p.filter(F.col(rev_col) > 0)
            .orderBy(F.col(rev_col).desc(), "pk")
            .limit(_TK_K)
        )
        wr = Window.orderBy(F.col(rev_col).desc(), "pk")
        return top.select("pk", F.row_number().over(wr).alias("rnk"))

    t1 = topk("rev1").withColumnsRenamed({"pk": "pk1", "rnk": "rnk1"})
    t2 = topk("rev2").withColumnsRenamed({"pk": "pk2", "rnk": "rnk2"})
    both = F.col("pk1").isNotNull() & F.col("pk2").isNotNull()
    j = t1.join(t2, F.col("pk2") == F.col("pk1"), "full_outer").agg(
        F.count("pk1").cast("bigint").alias("k1"),
        F.count("pk2").cast("bigint").alias("k2"),
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("n_common"),
        F.coalesce(
            F.sum(F.when(both, F.abs(F.col("rnk1") - F.col("rnk2")))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("footrule"),
    )
    return j.select(
        F.col("k1").alias("n_top_first"),
        F.col("k2").alias("n_top_second"),
        "n_common",
        F.expr("n_common * 1000000 DIV (k1 + k2 - n_common)").alias(
            "jaccard_ppm"
        ),
        F.col("footrule").alias("footrule_common"),
    )


# ---------------------------------------------------------------------------
# 2-D Mahalanobis outliers: order value vs line count
# ---------------------------------------------------------------------------

# NULLIF guards (CROSS_ENGINE rule 40): a 1-order input zeroes nd-1 and
# the covariance determinant (singular matrix); shared by both engines
_MH_V1 = "((sxxd - sxd * sxd / NULLIF(nd, 0)) / NULLIF(nd - 1.0, 0))"
_MH_V2 = "((syyd - syd * syd / NULLIF(nd, 0)) / NULLIF(nd - 1.0, 0))"
_MH_C = "((sxyd - sxd * syd / NULLIF(nd, 0)) / NULLIF(nd - 1.0, 0))"
_MH_DX = "(xd - sxd / NULLIF(nd, 0))"
_MH_DY = "(yd - syd / NULLIF(nd, 0))"
_MH_D2 = (
    f"(({_MH_DX} * {_MH_DX} * {_MH_V2}"
    f" - 2.0 * {_MH_DX} * {_MH_DY} * {_MH_C}"
    f" + {_MH_DY} * {_MH_DY} * {_MH_V1})"
    f" / NULLIF({_MH_V1} * {_MH_V2} - {_MH_C} * {_MH_C}, 0))"
)


@register(
    "mahalanobis_outliers_2d",
    "Top-10 bivariate outliers by Mahalanobis distance in the (order "
    "value dollars, line count) plane — the correlation-aware screen "
    "that flags a 3-line $200k order where per-axis z-scores see "
    "nothing: covariance from EXACT integer moments (sum-of-squares "
    "rides HUGEINT/DECIMAL with a rule-35 split; dollars keep it in "
    "split validity through sf100), the 2x2 inverse in closed form, "
    "and d^2 per row is ONE shared IEEE tree over identically-"
    "converted scalars, so the (d2 DESC, orderkey) top-10 order is "
    "bit-deterministic (rule 20). One orders-lineitem shuffle for "
    "line counts, a 1-row moment broadcast, TakeOrdered 10 — never a "
    "global sort.",
    f"""
    WITH oc AS (
      SELECT o.o_orderkey AS okey,
             CAST(round(o.o_totalprice) AS BIGINT) AS x,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, round(o.o_totalprice)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM oc
    ),
    e AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             {_du('sxx')} AS sxxd, {_du('sxy')} AS sxyd,
             CAST(syy AS DOUBLE) AS syyd
      FROM m
    ),
    d AS (
      SELECT okey, x, y, CAST(x AS DOUBLE) AS xd, CAST(y AS DOUBLE) AS yd,
             nd, sxd, syd, sxxd, sxyd, syyd
      FROM oc CROSS JOIN e
    )
    SELECT okey AS o_orderkey, x AS order_dollars, y AS n_lines,
           {_MH_D2} AS d2
    FROM d
    ORDER BY {_MH_D2} DESC, okey
    LIMIT 10
    """,
)
def q_mahalanobis_outliers_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    oc = checkpoint(
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_orderkey").alias("okey"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
        )
        .agg(F.count("l_orderkey").cast("bigint").alias("y"))
        # r11: oc feeds the moment scalar AND the scoring branch —
        # checkpoint the order-scale (okey, x, y) rollup once instead of
        # running the orders⋈lineitem join+agg twice (multi-consumer
        # rule; ~3 narrow longs per order, trivial blocks).
    )
    m = oc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    e = m.select(
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.expr(_sp("sxx")).alias("sxxd"),
        F.expr(_sp("sxy")).alias("sxyd"),
        F.col("syy").cast("double").alias("syyd"),
    )
    d = oc.crossJoin(F.broadcast(e)).select(
        "okey",
        "x",
        "y",
        F.col("x").cast("double").alias("xd"),
        F.col("y").cast("double").alias("yd"),
        "nd",
        "sxd",
        "syd",
        "sxxd",
        "sxyd",
        "syyd",
    )
    return (
        d.select(
            F.col("okey").alias("o_orderkey"),
            F.col("x").alias("order_dollars"),
            F.col("y").alias("n_lines"),
            F.expr(_MH_D2).alias("d2"),
        )
        .orderBy(F.col("d2").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Two-way additive effect decomposition: nation x priority revenue
# ---------------------------------------------------------------------------


@register(
    "two_way_effects_decomposition",
    "Two-way additive effect decomposition of mean order value over "
    "(customer nation x order priority): grand mean, row effect, "
    "column effect, and interaction residual per cell, ALL in exact "
    "micro-dollar fixed point (every mean is a HUGEINT/DECIMAL "
    "product with truncating DIV defined into the decomposition — "
    "rule 36 — so resid = cell - row - col + grand is pure BIGINT "
    "algebra, no float anywhere). The two-factor completion of "
    "anova_oneway_fstat (test) and mix_shift_decomposition (period "
    "deltas): this one says WHERE the nation and priority effects "
    "interact. Margins ride windows over the BOUNDED 125-cell table; "
    "one fact-scale shuffle.",
    """
    WITH cells AS (
      SELECT n.n_name AS nation, o.o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT)
               AS s_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, o.o_orderpriority
    ),
    m AS (
      SELECT nation, priority, n_c, s_c,
             CAST(SUM(n_c) OVER (PARTITION BY nation) AS BIGINT) AS n_r,
             CAST(SUM(s_c) OVER (PARTITION BY nation) AS BIGINT) AS s_r,
             CAST(SUM(n_c) OVER (PARTITION BY priority) AS BIGINT) AS n_p,
             CAST(SUM(s_c) OVER (PARTITION BY priority) AS BIGINT) AS s_p
      FROM cells
    ),
    tot AS (
      SELECT CAST(SUM(n_c) AS BIGINT) AS n,
             CAST(SUM(s_c) AS BIGINT) AS s
      FROM cells
    ),
    e AS (
      SELECT nation, priority, n_c,
             CAST(CAST(s_c AS HUGEINT) * 1000000 // n_c AS BIGINT) AS cm,
             CAST(CAST(s_r AS HUGEINT) * 1000000 // n_r AS BIGINT) AS rm,
             CAST(CAST(s_p AS HUGEINT) * 1000000 // n_p AS BIGINT) AS pm,
             CAST(CAST(s AS HUGEINT) * 1000000 // n AS BIGINT) AS gm
      FROM m CROSS JOIN tot
    )
    SELECT nation, priority, n_c AS n_orders,
           cm AS cell_mean_micro,
           gm AS grand_mean_micro,
           rm - gm AS nation_effect_micro,
           pm - gm AS priority_effect_micro,
           cm - rm - pm + gm AS interaction_micro
    FROM e
    """,
)
def q_two_way_effects_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    cells = checkpoint(
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_c"),
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("s_c"),
        )
        # r11: cells feeds the margins branch AND the grand-total scalar
        # — checkpoint the bounded 125-cell table once instead of running
        # the orders⋈customer rollup twice (multi-consumer rule).
    )
    m = cells.select(
        "nation",
        "priority",
        "n_c",
        "s_c",
        F.sum("n_c").over(Window.partitionBy("nation")).cast("bigint").alias("n_r"),
        F.sum("s_c").over(Window.partitionBy("nation")).cast("bigint").alias("s_r"),
        F.sum("n_c").over(Window.partitionBy("priority")).cast("bigint").alias("n_p"),
        F.sum("s_c").over(Window.partitionBy("priority")).cast("bigint").alias("s_p"),
    )
    tot = cells.agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.sum("s_c").cast("bigint").alias("s"),
    )
    e = m.crossJoin(F.broadcast(tot)).select(
        "nation",
        "priority",
        "n_c",
        F.expr("CAST(CAST(s_c AS DECIMAL(38,0)) * 1000000 DIV n_c AS BIGINT)").alias("cm"),
        F.expr("CAST(CAST(s_r AS DECIMAL(38,0)) * 1000000 DIV n_r AS BIGINT)").alias("rm"),
        F.expr("CAST(CAST(s_p AS DECIMAL(38,0)) * 1000000 DIV n_p AS BIGINT)").alias("pm"),
        F.expr("CAST(CAST(s AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)").alias("gm"),
    )
    return e.select(
        "nation",
        "priority",
        F.col("n_c").alias("n_orders"),
        F.col("cm").alias("cell_mean_micro"),
        F.col("gm").alias("grand_mean_micro"),
        (F.col("rm") - F.col("gm")).alias("nation_effect_micro"),
        (F.col("pm") - F.col("gm")).alias("priority_effect_micro"),
        (F.col("cm") - F.col("rm") - F.col("pm") + F.col("gm")).alias(
            "interaction_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across order priorities on fulfillment lead time
# ---------------------------------------------------------------------------

_KW_MAX_DUR = 365

# NULLIF guards (CROSS_ENGINE rule 40): an empty/1-row series zeroes
# nd terms, and an ALL-tied series zeroes the tie correction 1 - T/(n3-n)
_KW_H = (
    "((12.0 * termd / NULLIF(nd * (nd + 1.0), 0) - 3.0 * (nd + 1.0))"
    " / NULLIF(1.0 - tied / NULLIF(nd * nd * nd - nd, 0), 0))"
)


@register(
    "kruskal_wallis_leadtime",
    "Kruskal-Wallis H test of fulfillment lead time across the five "
    "order priorities — the k-group completion of "
    "mann_whitney_u_segments and the rank-based twin of "
    "anova_oneway_fstat. Lead days live on the BOUNDED [0, 365] "
    "integer domain, so 2x-midranks come from the 366-row value "
    "histogram (2*cum_before + count + 1 — exact integers, never a "
    "per-row rank over the fact table), per-group rank sums are one "
    "equi-join of (group, day) counts to that histogram, the "
    "cross-group reduction sum(R2_g^2 DIV (4 n_g)) stays an EXACT "
    "HUGEINT (truncation defined into the statistic, keeping the "
    "5-term sum order-free), and H with the tie correction is one "
    "shared IEEE tree. Exact through sf10 (term magnitudes reach the "
    "rule-35 split ceiling near sf100 — extend to a 3-limb split "
    "there). One fact join + two bounded-table joins.",
    f"""
    WITH d AS (
      SELECT o.o_orderpriority AS grp,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // {_DAY} AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    f AS (
      SELECT grp, days FROM d WHERE days >= 0 AND days <= {_KW_MAX_DUR}
    ),
    hist AS (
      SELECT days, CAST(COUNT(*) AS BIGINT) AS t FROM f GROUP BY days
    ),
    mr AS (
      SELECT days, t,
             2 * (CAST(COALESCE(SUM(t) OVER (ORDER BY days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT)) + t + 1 AS mr2
      FROM hist
    ),
    gc AS (
      SELECT grp, days, CAST(COUNT(*) AS BIGINT) AS c
      FROM f GROUP BY grp, days
    ),
    rg AS (
      SELECT g.grp, CAST(SUM(g.c) AS BIGINT) AS n_g,
             CAST(SUM(g.c * m.mr2) AS BIGINT) AS r2_g
      FROM gc g JOIN mr m ON m.days = g.days
      GROUP BY g.grp
    ),
    agg AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(r2_g AS HUGEINT) * r2_g // (4 * n_g)) AS term
      FROM rg
    ),
    ties AS (
      SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM hist
    ),
    e AS (
      SELECT n, k, CAST(n AS DOUBLE) AS nd,
             {_du('term')} AS termd, {_du('tie3')} AS tied
      FROM agg CROSS JOIN ties
    )
    SELECT n AS n_lines, k AS n_groups,
           {_KW_H} AS h_stat,
           {_KW_H} > 9.488 AS differs_95
    FROM e
    """,
)
def q_kruskal_wallis_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            f"(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
            f" DIV {_DAY}"
        ).alias("days"),
    )
    f = d.filter((F.col("days") >= 0) & (F.col("days") <= _KW_MAX_DUR))
    hist = f.groupBy("days").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    wcum = (
        Window.orderBy("days").rowsBetween(Window.unboundedPreceding, -1)
    )
    # bounded 366-row table: the unpartitioned window is calendar-bounded
    mr = hist.select(
        "days",
        "t",
        (
            2 * F.coalesce(F.sum("t").over(wcum), F.lit(0)).cast("bigint")
            + F.col("t")
            + 1
        ).alias("mr2"),
    )
    gc = f.groupBy("grp", "days").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rg = (
        gc.join(F.broadcast(mr), "days")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("mr2")).cast("bigint").alias("r2_g"),
        )
    )
    agg = rg.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.expr("CAST(r2_g AS DECIMAL(38,0)) * r2_g DIV (4 * n_g)")
        ).alias("term"),
    )
    ties = hist.agg(
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).alias("tie3")
    )
    e = dq.scalar_join(agg, ties).select(
        "n",
        "k",
        F.col("n").cast("double").alias("nd"),
        F.expr(_sp("term")).alias("termd"),
        F.expr(_sp("tie3")).alias("tied"),
    )
    return e.select(
        F.col("n").alias("n_lines"),
        F.col("k").alias("n_groups"),
        F.expr(_KW_H).alias("h_stat"),
        F.expr(f"{_KW_H} > 9.488").alias("differs_95"),
    )


@register(
    "friedman_test_nation_blocks",
    "Friedman rank test of order-priority effects blocked by customer "
    "nation: each nation ranks the five priorities by exact "
    "micro-dollar cell mean (2x-midranks over the bounded 125-cell "
    "table — mr2 = 2*rank + ties - 1 handles any exact-tie cells "
    "identically on both engines), column rank sums R2_j stay "
    "integers, and chi2_F = 12*sum(R_j^2)/(b k (k+1)) - 3 b (k+1) is "
    "one shared IEEE tree over tiny exact integers. The "
    "repeated-measures counterpart of kruskal_wallis_leadtime "
    "(between-groups) — blocking removes the nation main effect that "
    "two_way_effects_decomposition just measured. Verdict vs the "
    "literal chi2(4) critical value 9.488. One fact-scale shuffle; "
    "all rank algebra on the 125-row grid.",
    """
    WITH cells AS (
      SELECT n.n_name AS nation, o.o_orderpriority AS priority,
             CAST(CAST(SUM(CAST(round(o.o_totalprice) AS BIGINT))
                  AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS cm
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, o.o_orderpriority
    ),
    rk AS (
      SELECT nation, priority,
             2 * RANK() OVER (PARTITION BY nation ORDER BY cm)
               + CAST(COUNT(*) OVER (PARTITION BY nation, cm) AS BIGINT)
               - 1 AS mr2
      FROM cells
    ),
    rj AS (
      SELECT priority, CAST(SUM(mr2) AS BIGINT) AS r2_j,
             CAST(COUNT(*) AS BIGINT) AS b
      FROM rk GROUP BY priority
    ),
    agg AS (
      SELECT CAST(MAX(b) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(r2_j * r2_j) AS BIGINT) AS sr2
      FROM rj
    )
    SELECT b AS n_blocks, k AS n_treatments,
           3.0 * CAST(sr2 AS DOUBLE)
             / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
                * (CAST(k AS DOUBLE) + 1.0))
             - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
             AS chi2_friedman,
           3.0 * CAST(sr2 AS DOUBLE)
             / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
                * (CAST(k AS DOUBLE) + 1.0))
             - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
             > 9.488 AS differs_95
    FROM agg
    """,
)
def q_friedman_test_nation_blocks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(round(o_totalprice) AS BIGINT))"
                " AS DECIMAL(38,0)) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("cm")
        )
    )
    rk = cells.select(
        "nation",
        "priority",
        (
            2 * F.rank().over(Window.partitionBy("nation").orderBy("cm"))
            + F.count(F.lit(1))
            .over(Window.partitionBy("nation", "cm"))
            .cast("bigint")
            - 1
        ).alias("mr2"),
    )
    rj = rk.groupBy("priority").agg(
        F.sum("mr2").cast("bigint").alias("r2_j"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    agg = rj.agg(
        F.max("b").cast("bigint").alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("r2_j") * F.col("r2_j")).cast("bigint").alias("sr2"),
    )
    chi2 = (
        "3.0 * CAST(sr2 AS DOUBLE)"
        " / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)"
        "    * (CAST(k AS DOUBLE) + 1.0))"
        " - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)"
    )
    return agg.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        F.expr(chi2).alias("chi2_friedman"),
        F.expr(f"{chi2} > 9.488").alias("differs_95"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry one-step ratings for brands from within-order duels
# ---------------------------------------------------------------------------


@register(
    "bradley_terry_one_step",
    "Bradley-Terry preference ratings for part brands from "
    "within-order duels: in every order, each brand pair 'plays' and "
    "the higher line-revenue brand wins (revenue ties excluded); one "
    "MM update from the uniform rating gives s_i = 2 * wins_i / "
    "games_i, reported as the exact fixed-point ppm (truncating DIV "
    "defined into the estimator). The preference-learning view of "
    "copurchase data that frequency rankings can't give: a brand that "
    "KEEPS LOSING its head-to-heads ranks low even if it appears "
    "everywhere. Pair fan-out is bounded by lines-per-order choose 2 "
    "(<= 21), never corpus^2; one shuffle to per-(order, brand) "
    "revenue, one self-join on orderkey, one 25-row rollup.",
    """
    WITH ob AS (
      SELECT l.l_orderkey AS okey, p.p_brand AS brand,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY l.l_orderkey, p.p_brand
    ),
    duel AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END AS win_a,
             CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END AS win_b
      FROM ob a JOIN ob b
        ON b.okey = a.okey AND a.brand < b.brand
      WHERE a.cents <> b.cents
    ),
    per AS (
      SELECT brand, CAST(SUM(w) AS BIGINT) AS wins,
             CAST(COUNT(*) AS BIGINT) AS games
      FROM (
        SELECT brand_a AS brand, win_a AS w FROM duel
        UNION ALL
        SELECT brand_b AS brand, win_b AS w FROM duel
      ) GROUP BY brand
    )
    SELECT brand, games, wins,
           wins * 2000000 // games AS bt_rating_ppm
    FROM per
    ORDER BY bt_rating_ppm DESC, brand
    """,
)
def q_bradley_terry_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale/plan note (r11): the oracle's ob-self-join + duel-UNION shape
    # re-evaluated the fact-scale ob rollup once per plan branch (2 join
    # arms x 2 union branches = 4 lineitem⋈part passes — Catalyst does
    # not dedupe common subtrees, CLAUDE.md). Spark-side we instead
    # collect each order's bounded brand set (≤ lines-per-order brands)
    # into an array and generate every ORDERED duel (x, y) in-array: one
    # (okey, brand) rollup, one okey rollup, bounded ≤ k² in-row fan-out,
    # and the duel table is never wider than (brand, win). Each unordered
    # duel contributes exactly its two ordered rows, so wins/games match
    # the oracle's union-of-both-sides accounting row for row.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("l_orderkey").alias("okey"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    per_order = ob.groupBy("okey").agg(
        F.collect_list(F.struct("brand", "cents")).alias("bs")
    )
    wins = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, x -> transform("
                " filter(bs, y -> y.brand <> x.brand AND y.cents <> x.cents),"
                " y -> struct(x.brand AS brand,"
                " CASE WHEN x.cents > y.cents THEN 1 ELSE 0 END AS w))))"
            )
        ).alias("bw")
    ).select("bw.brand", "bw.w")
    per = wins.groupBy("brand").agg(
        F.sum("w").cast("bigint").alias("wins"),
        F.count(F.lit(1)).cast("bigint").alias("games"),
    )
    return per.select(
        "brand",
        "games",
        "wins",
        F.expr("wins * 2000000 DIV games").alias("bt_rating_ppm"),
    ).orderBy(F.col("bt_rating_ppm").desc(), "brand")


# ---------------------------------------------------------------------------
# Two-proportion power analysis from measured baselines
# ---------------------------------------------------------------------------

_PW_MDES = (50_000, 100_000, 200_000)  # relative lifts in ppm

# NULLIF guard (CROSS_ENGINE rule 40): a zero baseline rate makes
# p2 = p1, zeroing the MDE gap; shared by both engines
_PW_N = (
    "(ceil("
    " (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))"
    "  + 0.8416 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))"
    " * (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))"
    "    + 0.8416 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))"
    " / NULLIF((p2 - p1) * (p2 - p1), 0)))"
)


@register(
    "power_analysis_two_proportion",
    "Experimental-design power analysis from MEASURED baselines: for "
    "each order priority's observed return rate p1 and relative MDE "
    "in {5%, 10%, 20%}, the per-arm sample size for a two-proportion "
    "z-test at alpha=0.05 (two-sided), power=0.80 — n = (z_a "
    "sqrt(2 pbar qbar) + z_b sqrt(p1 q1 + p2 q2))^2 / (p2-p1)^2 with "
    "the normal quantiles as literals (1.96, 0.8416) and p1 exact "
    "counts converted once; p2 = p1 * (1 + mde) in exact ppm before "
    "the one shared IEEE tree. The design-stage complement of "
    "ab_test_two_proportion (analysis-stage) and "
    "neyman_allocation_plan (allocation). One conditional-aggregate "
    "scan; output = 5 priorities x 3 MDEs.",
    f"""
    WITH s AS (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN EXISTS (
               SELECT 1 FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
             ) THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM orders o GROUP BY o_orderpriority
    ),
    mde(mde_ppm) AS (VALUES {', '.join(f'({m})' for m in _PW_MDES)}),
    e AS (
      SELECT priority, n, r, mde_ppm,
             CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
             (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 + CAST(mde_ppm AS DOUBLE) / 1000000.0) AS p2,
             (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 + CAST(mde_ppm AS DOUBLE) / 2000000.0) AS pbar
      FROM s CROSS JOIN mde
    )
    SELECT priority, n AS n_observed, mde_ppm,
           p1 AS baseline_rate,
           CAST({_PW_N} AS BIGINT) AS n_per_arm
    FROM e
    """,
)
def q_power_analysis_two_proportion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
    )
    s = (
        o.join(returned.withColumn("isr", F.lit(1)), "o_orderkey", "left")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.coalesce(F.col("isr"), F.lit(0)))
            .cast("bigint")
            .alias("r"),
        )
    )
    mde = spark.createDataFrame(
        [(m,) for m in _PW_MDES], "mde_ppm long"
    )
    e = s.crossJoin(F.broadcast(mde)).select(
        "priority",
        "n",
        "r",
        "mde_ppm",
        F.expr("CAST(r AS DOUBLE) / CAST(n AS DOUBLE)").alias("p1"),
        F.expr(
            "(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (1.0 + CAST(mde_ppm AS DOUBLE) / 1000000.0)"
        ).alias("p2"),
        F.expr(
            "(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (1.0 + CAST(mde_ppm AS DOUBLE) / 2000000.0)"
        ).alias("pbar"),
    )
    return e.select(
        "priority",
        F.col("n").alias("n_observed"),
        "mde_ppm",
        F.col("p1").alias("baseline_rate"),
        F.expr(f"CAST({_PW_N} AS BIGINT)").alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between the two half-period top-20 rankings
# ---------------------------------------------------------------------------

_RBO_K = 20
_RBO_P = 0.9
# integer ppb weights for truncated RBO@k: (1-p) p^(d-1) / d, exact once
_RBO_W = tuple(
    round((1 - _RBO_P) * _RBO_P ** (d - 1) / d * 1_000_000_000)
    for d in range(1, _RBO_K + 1)
)


@register(
    "rank_biased_overlap_topk",
    f"Truncated rank-biased overlap RBO@{_RBO_K} (p={_RBO_P}) between "
    "the top-20 parts by revenue in the first vs second half of the "
    "ship-date range — the top-weighted ranking-stability metric "
    "(Webber et al. 2010) that topk_turnover_footrule's unweighted "
    "footrule can't give: agreement at depth 1 matters ~10x more "
    "than at depth 20. Geometric weights are PRECOMPUTED integer ppb "
    "literals embedded in both engines, a common item contributes to "
    "every depth >= max(rank1, rank2) via the bounded depth cross "
    "join, so rbo_ppb = sum(overlap_d * w_d DIV d is already folded "
    "in) stays an EXACT integer — no float series summation. Same "
    "TakeOrdered top-k construction as the footrule query (rule "
    "20).",
    f"""
    WITH l AS (
      SELECT l_partkey AS pk,
             epoch_us(l_shipdate) // {_DAY} AS day,
             CAST(round(l_extendedprice) AS BIGINT) AS rev
      FROM lineitem
    ),
    sp AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM l),
    p AS (
      SELECT pk,
             CAST(SUM(CASE WHEN day <= mid THEN rev ELSE 0 END) AS BIGINT)
               AS rev1,
             CAST(SUM(CASE WHEN day > mid THEN rev ELSE 0 END) AS BIGINT)
               AS rev2
      FROM l CROSS JOIN sp GROUP BY pk
    ),
    t1 AS (
      SELECT pk, rnk FROM (
        SELECT pk, ROW_NUMBER() OVER (ORDER BY rev1 DESC, pk) AS rnk
        FROM p WHERE rev1 > 0
      ) WHERE rnk <= {_RBO_K}
    ),
    t2 AS (
      SELECT pk, rnk FROM (
        SELECT pk, ROW_NUMBER() OVER (ORDER BY rev2 DESC, pk) AS rnk
        FROM p WHERE rev2 > 0
      ) WHERE rnk <= {_RBO_K}
    ),
    common AS (
      SELECT GREATEST(t1.rnk, t2.rnk) AS m
      FROM t1 JOIN t2 ON t2.pk = t1.pk
    ),
    w(d, w_ppb) AS (VALUES
      {', '.join(f'({d}, {w})' for d, w in enumerate(_RBO_W, 1))}),
    overl AS (
      SELECT w.d, w.w_ppb,
             CAST(COUNT(c.m) AS BIGINT) AS overlap_d
      FROM w LEFT JOIN common c ON c.m <= w.d
      GROUP BY w.d, w.w_ppb
    )
    SELECT CAST(SUM(CASE WHEN d = {_RBO_K} THEN overlap_d END) AS BIGINT)
             AS n_common,
           CAST(SUM(overlap_d * w_ppb) AS BIGINT) AS rbo_ppb
    FROM overl
    """,
)
def q_rank_biased_overlap_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.expr(f"unix_micros(l_shipdate) DIV {_DAY}").alias("day"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("rev"),
    )
    sp = li.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"))
    p = (
        li.crossJoin(F.broadcast(sp))
        .groupBy("pk")
        .agg(
            F.sum(
                F.when(F.col("day") <= F.col("mid"), F.col("rev")).otherwise(0)
            )
            .cast("bigint")
            .alias("rev1"),
            F.sum(
                F.when(F.col("day") > F.col("mid"), F.col("rev")).otherwise(0)
            )
            .cast("bigint")
            .alias("rev2"),
        )
    )

    def topk(rev_col: str, out: str) -> DataFrame:
        top = (
            p.filter(F.col(rev_col) > 0)
            .orderBy(F.col(rev_col).desc(), "pk")
            .limit(_RBO_K)
        )
        wr = Window.orderBy(F.col(rev_col).desc(), "pk")
        return top.select("pk", F.row_number().over(wr).alias(out))

    t1 = topk("rev1", "rnk1")
    t2 = topk("rev2", "rnk2").withColumnRenamed("pk", "pk2")
    common = t1.join(t2, F.col("pk2") == F.col("pk")).select(
        F.greatest("rnk1", "rnk2").alias("m")
    )
    w = spark.createDataFrame(
        list(enumerate(_RBO_W, 1)), "d long, w_ppb long"
    )
    overl = (
        w.join(F.broadcast(common), F.col("m") <= F.col("d"), "left")
        .groupBy("d", "w_ppb")
        .agg(F.count("m").cast("bigint").alias("overlap_d"))
    )
    return overl.agg(
        F.sum(F.when(F.col("d") == _RBO_K, F.col("overlap_d")))
        .cast("bigint")
        .alias("n_common"),
        F.sum(F.col("overlap_d") * F.col("w_ppb"))
        .cast("bigint")
        .alias("rbo_ppb"),
    )


# ---------------------------------------------------------------------------
# Simpson's paradox scan: discount -> return rate, stratified by brand
# ---------------------------------------------------------------------------


@register(
    "simpsons_paradox_scan",
    "Simpson's-paradox scan of the discount -> return-rate "
    "association: overall risk difference (return rate at discount "
    ">= 5% minus below, exact ppm fixed point) vs the same RD inside "
    "every brand stratum, flagging strata whose association sign "
    "REVERSES the marginal one — the aggregation-bias diagnostic "
    "that says 'your headline correlation flips when you condition'. "
    "Strata with an empty arm report RD as 0 and are excluded from "
    "reversal flags (n_hi, n_lo > 0 guard). One conditional-"
    "aggregate scan to the 25-cell stratum grid + a 1-row marginal "
    "broadcast; pure integer ppm algebra.",
    """
    WITH l AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS hi,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    s AS (
      SELECT brand,
             CAST(SUM(hi) AS BIGINT) AS n_hi,
             CAST(SUM(hi * ret) AS BIGINT) AS r_hi,
             CAST(SUM(1 - hi) AS BIGINT) AS n_lo,
             CAST(SUM((1 - hi) * ret) AS BIGINT) AS r_lo
      FROM l GROUP BY brand
    ),
    tot AS (
      SELECT CAST(SUM(n_hi) AS BIGINT) AS tn_hi,
             CAST(SUM(r_hi) AS BIGINT) AS tr_hi,
             CAST(SUM(n_lo) AS BIGINT) AS tn_lo,
             CAST(SUM(r_lo) AS BIGINT) AS tr_lo
      FROM s
    ),
    e AS (
      SELECT brand, n_hi, n_lo,
             CASE WHEN n_hi > 0 AND n_lo > 0
                  THEN r_hi * 1000000 // n_hi - r_lo * 1000000 // n_lo
                  ELSE 0 END AS rd_ppm,
             tr_hi * 1000000 // NULLIF(tn_hi, 0)
               - tr_lo * 1000000 // NULLIF(tn_lo, 0)
               AS overall_rd_ppm
      FROM s CROSS JOIN tot
    )
    SELECT brand, n_hi, n_lo, rd_ppm, overall_rd_ppm,
           n_hi > 0 AND n_lo > 0
             AND ((rd_ppm > 0 AND overall_rd_ppm < 0)
                  OR (rd_ppm < 0 AND overall_rd_ppm > 0)) AS sign_reversal
    FROM e
    """,
)
def q_simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    l = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("hi"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    s = checkpoint(
        l.groupBy("brand")
        .agg(
            F.sum("hi").cast("bigint").alias("n_hi"),
            F.sum(F.col("hi") * F.col("ret")).cast("bigint").alias("r_hi"),
            F.sum(1 - F.col("hi")).cast("bigint").alias("n_lo"),
            F.sum((1 - F.col("hi")) * F.col("ret"))
            .cast("bigint")
            .alias("r_lo"),
        )
        # r11: s feeds the pooled-total scalar AND the per-brand output —
        # checkpoint the bounded 25-brand table once instead of running
        # the lineitem⋈part rollup twice (multi-consumer rule).
    )
    tot = s.agg(
        F.sum("n_hi").cast("bigint").alias("tn_hi"),
        F.sum("r_hi").cast("bigint").alias("tr_hi"),
        F.sum("n_lo").cast("bigint").alias("tn_lo"),
        F.sum("r_lo").cast("bigint").alias("tr_lo"),
    )
    e = s.crossJoin(F.broadcast(tot)).select(
        "brand",
        "n_hi",
        "n_lo",
        F.expr(
            "CASE WHEN n_hi > 0 AND n_lo > 0"
            " THEN r_hi * 1000000 DIV n_hi - r_lo * 1000000 DIV n_lo"
            " ELSE 0 END"
        ).alias("rd_ppm"),
        # NULLIF guard (rule 40): a globally one-armed input zeroes a
        # marginal count
        F.expr(
            "tr_hi * 1000000 DIV NULLIF(tn_hi, 0)"
            " - tr_lo * 1000000 DIV NULLIF(tn_lo, 0)"
        ).alias("overall_rd_ppm"),
    )
    return e.select(
        "brand",
        "n_hi",
        "n_lo",
        "rd_ppm",
        "overall_rd_ppm",
        F.expr(
            "n_hi > 0 AND n_lo > 0"
            " AND ((rd_ppm > 0 AND overall_rd_ppm < 0)"
            "      OR (rd_ppm < 0 AND overall_rd_ppm > 0))"
        ).alias("sign_reversal"),
    )


# ---------------------------------------------------------------------------
# DiD placebo test (fake treatment date inside the pre-period)
# ---------------------------------------------------------------------------

# NULLIF guard (CROSS_ENGINE rule 40): an empty cell zeroes its count;
# shared template, so the guard covers both engines identically
_DP_MEAN = "(CAST({s} AS DOUBLE) / NULLIF(CAST({n} AS DOUBLE), 0))"


def _did(s_ta, n_ta, s_tp, n_tp, s_ca, n_ca, s_cp, n_cp):
    return (
        f"(({_DP_MEAN.format(s=s_ta, n=n_ta)}"
        f" - {_DP_MEAN.format(s=s_tp, n=n_tp)})"
        f" - ({_DP_MEAN.format(s=s_ca, n=n_ca)}"
        f" - {_DP_MEAN.format(s=s_cp, n=n_cp)})) / 100.0"
    )


_DID_REAL = _did(
    "s_t3", "n_t3", "s_t1 + s_t2", "n_t1 + n_t2",
    "s_c3", "n_c3", "s_c1 + s_c2", "n_c1 + n_c2",
)
_DID_PLACEBO = _did(
    "s_t2", "n_t2", "s_t1", "n_t1", "s_c2", "n_c2", "s_c1", "n_c1"
)


@register(
    "did_placebo_test",
    "Placebo test for the did_revenue_impact design: rerun the "
    "difference-in-differences with a FAKE treatment date "
    "(1996-07-01) strictly inside the pre-period — a credible "
    "parallel-trends assumption demands the placebo estimate be "
    "small relative to the real effect, and this query MEASURES "
    "that (|placebo| < |real| verdict). Six conditional cells "
    "(treat x {pre1, pre2, post}) come from ONE fact pass of exact "
    "cent sums; both DiDs are identically-spelled IEEE trees over "
    "the same six cells. The robustness-check completion of the "
    "causal suite (CUPED, SRM, DiD, Qini). 4-row-equivalent state "
    "regardless of fact size.",
    f"""
    WITH o AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             (r.r_name = 'ASIA') AS treat,
             CASE WHEN o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
                  THEN 1
                  WHEN o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 2 ELSE 3 END AS period
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cells AS (
      SELECT
        CAST(SUM(CASE WHEN treat AND period = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_t1,
        CAST(SUM(CASE WHEN treat AND period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
        CAST(SUM(CASE WHEN treat AND period = 2 THEN cents ELSE 0 END) AS BIGINT) AS s_t2,
        CAST(SUM(CASE WHEN treat AND period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_t2,
        CAST(SUM(CASE WHEN treat AND period = 3 THEN cents ELSE 0 END) AS BIGINT) AS s_t3,
        CAST(SUM(CASE WHEN treat AND period = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_t3,
        CAST(SUM(CASE WHEN NOT treat AND period = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_c1,
        CAST(SUM(CASE WHEN NOT treat AND period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
        CAST(SUM(CASE WHEN NOT treat AND period = 2 THEN cents ELSE 0 END) AS BIGINT) AS s_c2,
        CAST(SUM(CASE WHEN NOT treat AND period = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_c2,
        CAST(SUM(CASE WHEN NOT treat AND period = 3 THEN cents ELSE 0 END) AS BIGINT) AS s_c3,
        CAST(SUM(CASE WHEN NOT treat AND period = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_c3
      FROM o
    )
    SELECT n_t1 + n_t2 + n_t3 AS n_treated,
           n_c1 + n_c2 + n_c3 AS n_control,
           {_DID_PLACEBO} AS placebo_did_dollars,
           {_DID_REAL} AS real_did_dollars,
           abs({_DID_PLACEBO}) < abs({_DID_REAL}) AS placebo_smaller
    FROM cells
    """,
)
def q_did_placebo_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            (F.col("r_name") == "ASIA").alias("treat"),
            F.expr(
                "CASE WHEN o_orderdate < TIMESTAMP '1996-07-01 00:00:00'"
                " THEN 1"
                " WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
                " THEN 2 ELSE 3 END"
            ).alias("period"),
        )
    )
    aggs = []
    for arm, cond in (("t", F.col("treat")), ("c", ~F.col("treat"))):
        for per in (1, 2, 3):
            sel = cond & (F.col("period") == per)
            aggs.append(
                F.sum(F.when(sel, F.col("cents")).otherwise(0))
                .cast("bigint")
                .alias(f"s_{arm}{per}")
            )
            aggs.append(
                F.sum(F.when(sel, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n_{arm}{per}")
            )
    cells = base.agg(*aggs)
    return cells.select(
        F.expr("n_t1 + n_t2 + n_t3").alias("n_treated"),
        F.expr("n_c1 + n_c2 + n_c3").alias("n_control"),
        F.expr(_DID_PLACEBO).alias("placebo_did_dollars"),
        F.expr(_DID_REAL).alias("real_did_dollars"),
        F.expr(f"abs({_DID_PLACEBO}) < abs({_DID_REAL})").alias(
            "placebo_smaller"
        ),
    )


# ---------------------------------------------------------------------------
# Fano overdispersion index of per-customer order counts
# ---------------------------------------------------------------------------


@register(
    "overdispersion_fano_index",
    "Fano overdispersion index per nation: variance-to-mean ratio of "
    "per-customer LIFETIME order counts (zero-order customers "
    "included via the left join, like q13) — VMR = 1 is the Poisson "
    "reference, VMR > 1 means clumped demand (heavy buyers coexist "
    "with dormant accounts), the distributional fact that sizing "
    "per-customer state on a 1000-executor cluster actually needs. "
    "VMR_ppm = (n*sum(x^2) - S^2) * 1e6 DIV (S * (n-1)) is exact "
    "fixed point end-to-end (HUGEINT/DECIMAL, rule 36). Two "
    "shuffles: per-customer counts, per-nation moments.",
    """
    WITH cc AS (
      SELECT c.c_custkey, n.n_name AS nation,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS x
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, n.n_name
    ),
    s AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM cc GROUP BY nation
    )
    SELECT nation, n AS n_customers, sx AS n_orders,
           CAST((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                * 1000000 // NULLIF(CAST(sx AS HUGEINT) * (n - 1), 0)
                AS BIGINT) AS fano_ppm,
           CAST((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                * 1000000 // NULLIF(CAST(sx AS HUGEINT) * (n - 1), 0)
                AS BIGINT) > 1000000 AS overdispersed
    FROM s
    """,
)
def q_overdispersion_fano_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders")
    cc = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", F.col("n_name").alias("nation"))
        .agg(F.count("o_orderkey").cast("bigint").alias("x"))
    )
    s = cc.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    # NULLIF guard (rule 40): an order-less nation zeroes sx; a single-
    # customer nation zeroes n - 1
    fano = (
        "CAST((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0))"
        " * sx) * 1000000 DIV NULLIF(CAST(sx AS DECIMAL(38,0)) * (n - 1), 0)"
        " AS BIGINT)"
    )
    return s.select(
        "nation",
        F.col("n").alias("n_customers"),
        F.col("sx").alias("n_orders"),
        F.expr(fano).alias("fano_ppm"),
        F.expr(f"{fano} > 1000000").alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# Group-sequential monitoring with O'Brien-Fleming boundaries
# ---------------------------------------------------------------------------

# two-sided alpha=0.05, 5 equally-spaced looks (Pocock/OBF tables)
_GS_OBF = (4.877, 3.357, 2.680, 2.290, 2.031)

# NULLIF guards (CROSS_ENGINE rule 40): an empty arm zeroes nn1/nn2 and
# a degenerate pooled rate (0 or 1) zeroes the variance; shared string,
# so the guard covers the Spark expr and the DuckDB oracle identically
_GS_Z = (
    "((p1 - p2)"
    " / NULLIF(sqrt(pb * (1.0 - pb)"
    " * (1.0 / NULLIF(nn1, 0) + 1.0 / NULLIF(nn2, 0))), 0))"
)


@register(
    "group_sequential_obrien_fleming",
    "Group-sequential monitoring of the ASIA-vs-rest return-rate "
    "difference at 5 equally-spaced calendar looks with "
    "O'Brien-Fleming stopping boundaries (4.877/3.357/2.680/2.290/"
    "2.031 — spend-almost-nothing-early literals): cumulative "
    "two-proportion z at each look from exact conditional counts "
    "(arm x date-fifth buckets, cumulated over the bounded 5-row "
    "grid), one shared IEEE tree per look, crossed flags per "
    "boundary. The interim-analysis completion of "
    "ab_test_two_proportion (single look) and "
    "power_analysis_two_proportion (design): WHEN could this "
    "experiment have stopped. One fact pass; 5-row output.",
    f"""
    WITH o AS (
      SELECT (r.r_name = 'ASIA') AS treat,
             epoch_us(o.o_orderdate) // {_DAY} AS day,
             CASE WHEN EXISTS (
               SELECT 1 FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
             ) THEN 1 ELSE 0 END AS ret
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    sp AS (SELECT MIN(day) AS d0, MAX(day) - MIN(day) + 1 AS span FROM o),
    b AS (
      SELECT treat, ret,
             LEAST((day - d0) * 5 // span + 1, 5) AS look
      FROM o CROSS JOIN sp
    ),
    g AS (
      SELECT look,
             CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN treat THEN ret ELSE 0 END) AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN NOT treat THEN ret ELSE 0 END) AS BIGINT) AS r2
      FROM b GROUP BY look
    ),
    cum AS (
      SELECT look,
             CAST(SUM(n1) OVER w AS BIGINT) AS n1,
             CAST(SUM(r1) OVER w AS BIGINT) AS r1,
             CAST(SUM(n2) OVER w AS BIGINT) AS n2,
             CAST(SUM(r2) OVER w AS BIGINT) AS r2
      FROM g
      WINDOW w AS (ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    ob(look, critical) AS (VALUES
      {', '.join(f'({i}, {z})' for i, z in enumerate(_GS_OBF, 1))}),
    e AS (
      SELECT c.look, c.n1, c.n2,
             CAST(ob.critical AS DOUBLE) AS critical,
             CAST(c.n1 AS DOUBLE) AS nn1, CAST(c.n2 AS DOUBLE) AS nn2,
             CAST(c.r1 AS DOUBLE) / NULLIF(CAST(c.n1 AS DOUBLE), 0) AS p1,
             CAST(c.r2 AS DOUBLE) / NULLIF(CAST(c.n2 AS DOUBLE), 0) AS p2,
             CAST(c.r1 + c.r2 AS DOUBLE)
               / NULLIF(CAST(c.n1 + c.n2 AS DOUBLE), 0) AS pb
      FROM cum c JOIN ob ON ob.look = c.look
    )
    SELECT look, n1 AS n_treat, n2 AS n_control, critical,
           {_GS_Z} AS z_stat,
           abs({_GS_Z}) > critical AS crossed
    FROM e
    """,
)
def q_group_sequential_obrien_fleming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    li = load_table(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
        .withColumn("isr", F.lit(1))
    )
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(returned, "o_orderkey", "left")
        .select(
            (F.col("r_name") == "ASIA").alias("treat"),
            F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day"),
            F.coalesce(F.col("isr"), F.lit(0)).alias("ret"),
        )
    )
    sp = base.agg(
        F.min("day").alias("d0"),
        (F.max("day") - F.min("day") + 1).alias("span"),
    )
    b = base.crossJoin(F.broadcast(sp)).select(
        "treat",
        "ret",
        F.expr("LEAST((day - d0) * 5 DIV span + 1, 5)").alias("look"),
    )
    g = b.groupBy("look").agg(
        F.sum(F.when(F.col("treat"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("treat"), F.col("ret")).otherwise(0))
        .cast("bigint")
        .alias("r1"),
        F.sum(F.when(~F.col("treat"), 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(~F.col("treat"), F.col("ret")).otherwise(0))
        .cast("bigint")
        .alias("r2"),
    )
    w = Window.orderBy("look").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "look",
        F.sum("n1").over(w).cast("bigint").alias("n1"),
        F.sum("r1").over(w).cast("bigint").alias("r1"),
        F.sum("n2").over(w).cast("bigint").alias("n2"),
        F.sum("r2").over(w).cast("bigint").alias("r2"),
    )
    ob = spark.createDataFrame(
        list(enumerate(_GS_OBF, 1)), "look long, critical double"
    )
    e = cum.join(F.broadcast(ob), "look").select(
        "look",
        "n1",
        "n2",
        "critical",
        F.col("n1").cast("double").alias("nn1"),
        F.col("n2").cast("double").alias("nn2"),
        F.expr("CAST(r1 AS DOUBLE) / NULLIF(CAST(n1 AS DOUBLE), 0)").alias("p1"),
        F.expr("CAST(r2 AS DOUBLE) / NULLIF(CAST(n2 AS DOUBLE), 0)").alias("p2"),
        F.expr(
            "CAST(r1 + r2 AS DOUBLE) / NULLIF(CAST(n1 + n2 AS DOUBLE), 0)"
        ).alias("pb"),
    )
    return e.select(
        "look",
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        "critical",
        F.expr(_GS_Z).alias("z_stat"),
        F.expr(f"abs({_GS_Z}) > critical").alias("crossed"),
    )
