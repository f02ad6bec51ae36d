"""Twenty-seventh-wave coverage: sequential-pattern support, power
analysis, rank-biased overlap, term burstiness, Simpson's-paradox
scanning, and VWAP rollups.

docs/CROSS_ENGINE.md rules throughout. Rank-biased overlap's
geometric weights are PRECOMPUTED integer ppb literals (generated
once in Python, embedded in both engines' SQL) so the depth sum is an
exact integer — a float p^d series would sum in engine-dependent
order. Every ratio is truncating fixed point or one shared IEEE
tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.docs_queries import _DUCK_TOKENS
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


_DAY = "86400000000"


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
# Church-Gale term burstiness
# ---------------------------------------------------------------------------

_TB_MIN_DF = 10
_TB_MIN_CF = 50


@register(
    "term_burstiness_church_gale",
    "Church-Gale term burstiness: collection frequency over document "
    "frequency (cf*1e6 DIV df = mean within-document repetitions in "
    "ppm among documents that contain the term) — bursty terms clump "
    "where Poisson-ish terms sprinkle, the property tf-idf weighting "
    "assumes and this query MEASURES. Noise floors df >= 10, "
    "cf >= 50; top-20 by (burstiness DESC, term) total order. One "
    "explode + one token-key shuffle (cf and df from the same "
    "grouped aggregate via COUNT DISTINCT doc).",
    f"""
    WITH inst AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    s AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM inst GROUP BY term
      HAVING COUNT(*) >= {_TB_MIN_CF}
         AND COUNT(DISTINCT doc_id) >= {_TB_MIN_DF}
    )
    SELECT term, cf, df, cf * 1000000 // df AS burstiness_ppm
    FROM s
    ORDER BY burstiness_ppm DESC, term
    LIMIT 20
    """,
)
def q_term_burstiness_church_gale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_seattle_call_data_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    inst = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    s = (
        inst.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .filter((F.col("cf") >= _TB_MIN_CF) & (F.col("df") >= _TB_MIN_DF))
    )
    return (
        s.select(
            "term",
            "cf",
            "df",
            F.expr("cf * 1000000 DIV df").alias("burstiness_ppm"),
        )
        .orderBy(F.col("burstiness_ppm").desc(), "term")
        .limit(20)
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
