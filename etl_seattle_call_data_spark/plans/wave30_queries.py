"""Thirtieth-wave coverage: adstock decay transforms, Haar energy
decomposition, Jarque-Bera normality, variance-ratio testing, and
cohort retention prediction.

docs/CROSS_ENGINE.md rules throughout. Geometric adstock weights are
precomputed integer ppb literals (the RBO pattern — no float power
series); Jarque-Bera uses a DATA-DEPENDENT but engine-identical
power-of-scale truncation so fourth-power sums stay inside rule-35
split validity at ANY SF; every float is one shared IEEE tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


_DAY = "86400000000"

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
