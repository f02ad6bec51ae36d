"""Twenty-ninth-wave coverage: group-sequential monitoring boundaries,
deterministic RANSAC, Deming regression, the ADF unit-root test,
embedding effective dimensionality, and AR aging buckets.

docs/CROSS_ENGINE.md rules throughout. RANSAC's inlier test is fully
cross-multiplied integer arithmetic (no division, no tolerance
float); the sequential-boundary and unit-root criticals are metric
literals (O'Brien-Fleming 5-look, Dickey-Fuller -2.86); every float
is one shared IEEE tree over split-converted exact moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


_DAY = "86400000000"


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


# ---------------------------------------------------------------------------
# Embedding participation ratio (effective dimensionality)
# ---------------------------------------------------------------------------


@register(
    "embedding_participation_ratio",
    "Participation ratio of the embedding space: PR = (sum v_i)^2 / "
    "sum v_i^2 over per-dimension variances — the effective "
    "dimensionality (PR = 64 for isotropic, PR ~ 1 for rank-"
    "collapsed embeddings), the representation-health metric that "
    "decides whether matryoshka truncation and PQ codebooks "
    "(embedding_matryoshka_recall, pq_encode_embeddings) can work "
    "at all. Per-dim variances are TRUNCATED exact integers v_i = "
    "(n*SS_i - S_i^2) DIV n from quantized 1e4-fixed-point "
    "components (the truncation is defined into the statistic and "
    "keeps v_i sums inside BIGINT through sf100 — no split "
    "needed), so the 64-term sums are order-free; PR is one shared "
    "IEEE tree. One posexplode + a 64-row rollup.",
    """
    WITH q AS (
      SELECT i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    ),
    per AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             SUM(CAST(x AS HUGEINT) * x) AS ss
      FROM q GROUP BY dim
    ),
    v AS (
      SELECT dim, n,
             CAST((CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
                  // n AS BIGINT) AS v_i
      FROM per
    ),
    agg AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
             CAST(COUNT(*) AS BIGINT) AS n_dims,
             CAST(SUM(v_i) AS BIGINT) AS sv,
             SUM(CAST(v_i AS HUGEINT) * v_i) AS svv
      FROM v
    )
    SELECT n_vectors, n_dims,
           (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
             / NULLIF(CAST(svv AS DOUBLE), 0) AS pr_effective_dims
    FROM agg
    """,
)
def q_embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.posexplode("embedding").alias("dim", "vr")).select(
        "dim",
        F.round(F.col("vr").cast("double") * 10000)
        .cast("bigint")
        .alias("x"),
    )
    per = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ss"),
    )
    v = per.select(
        "dim",
        "n",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * ss"
            " - CAST(s AS DECIMAL(38,0)) * s) DIV n AS BIGINT)"
        ).alias("v_i"),
    )
    agg = v.agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum("v_i").cast("bigint").alias("sv"),
        F.sum(F.expr("CAST(v_i AS DECIMAL(38,0)) * v_i")).alias("svv"),
    )
    return agg.select(
        "n_vectors",
        "n_dims",
        # NULLIF guard (rule 40): one vector -> all per-dim variances 0
        F.expr(
            "(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
            " / NULLIF(CAST(svv AS DOUBLE), 0)"
        ).alias("pr_effective_dims"),
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
