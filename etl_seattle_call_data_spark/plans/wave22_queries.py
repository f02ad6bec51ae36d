"""Twenty-second-wave coverage: Welch's t, file-compaction planning,
Bollinger-band breakouts, jackknife variance, Cochran-Armitage trend,
and the Chow structural-break test.

docs/CROSS_ENGINE.md rules throughout: every moment is an EXACT
integer (BIGINT below 2^63, DECIMAL(38,0) + the quotient/remainder
split above — rule 35), ratios are ONE shared IEEE tree spelled with
identical text in both engines (rules 1-2, 8), truncating ``DIV``
where a statistic keeps an integral intermediate (rule 4 — the
truncation is defined into the statistic), and magnitudes are sized
so the split stays inside its 2^79 validity window through sf100
(dollars instead of cents wherever squares appear).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.operators.ranking import (
    two_phase_cumsum_in_groups,
)
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


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
