"""Twenty-fourth-wave coverage: Huber one-step M-estimation, top-k
turnover/footrule, a Little's-law occupancy audit, Heaps-law lexical
growth, 2-D Mahalanobis outliers, and two-way effect decomposition.

docs/CROSS_ENGINE.md rules throughout: exact integer/DECIMAL moments
(HUGEINT on the oracle side past 2^63 — rule 36), rule-35 splits for
double conversion, ONE shared IEEE tree per float spelled identically
in both engines, truncating ``DIV`` defined into every fixed-point
statistic, and (rank, unique-id) total orders for every order
statistic (rule 20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq, text
from etl_seattle_call_data_spark.operators.ranking import (
    two_phase_cumsum_in_groups,
    two_phase_rank_in_groups,
)
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.docs_queries import _DUCK_TOKENS
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


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
# Heaps-law lexical growth: distinct types in power-of-4 token prefixes
# ---------------------------------------------------------------------------

_HL_BLOCKS = (1024, 4096, 16384, 65536)


@register(
    "heaps_law_blocks",
    "Heaps-law lexical growth per source WITHOUT logarithms: distinct "
    "token types within the first 1K/4K/16K/64K tokens of each "
    "source's doc_id-ordered stream — the vocabulary-growth curve "
    "that predicts tokenizer OOV rates as a corpus scales, read off "
    "at power-of-4 checkpoints instead of fitting the log-log slope. "
    "Global token positions come from per-source doc offsets via "
    "two_phase_cumsum_in_groups (operators/ranking.py — no source "
    "ever serializes through one window task) + posexplode ordinals; "
    "a type is 'within block B' iff its FIRST occurrence position "
    "<= B (min-aggregate per (source, token)). Only complete blocks "
    "(B <= source token count) are emitted. Shuffles: the cumsum "
    "pair, the first-occurrence agg, the bounded 4x rollup.",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS tk,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n
      FROM documents
    ),
    o AS (
      SELECT doc_id, source, tk,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM d
    ),
    tok AS (
      SELECT source, off + i AS gpos, tk[i] AS tok
      FROM o, unnest(range(1, len(tk) + 1)) AS t(i)
    ),
    fo AS (
      SELECT source, tok, MIN(gpos) AS fp FROM tok GROUP BY source, tok
    ),
    tot AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM d GROUP BY source
    ),
    blocks(b) AS (VALUES {', '.join(f'({b})' for b in _HL_BLOCKS)})
    SELECT f.source, CAST(b.b AS BIGINT) AS block_size, t.n_tokens,
           CAST(SUM(CASE WHEN f.fp <= b.b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_types
    FROM fo f
    JOIN tot t ON t.source = f.source
    CROSS JOIN blocks b
    WHERE b.b <= t.n_tokens
    GROUP BY f.source, b.b, t.n_tokens
    """,
)
def q_heaps_law_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", text.tokens("text").alias("tk")
    ).withColumn("n", F.size("tk").cast("bigint"))
    cum = two_phase_cumsum_in_groups(
        docs,
        group_cols=["source"],
        order_by=["doc_id"],
        coarse=F.expr("doc_id DIV 256"),
        weight=F.col("n"),
        cum_name="__cum",
    ).withColumn("off", (F.col("__cum") - F.col("n")).cast("bigint"))
    tok = cum.select(
        "source",
        "off",
        F.posexplode("tk").alias("i0", "tok"),
    ).select(
        "source",
        (F.col("off") + F.col("i0") + 1).alias("gpos"),
        "tok",
    )
    fo = tok.groupBy("source", "tok").agg(F.min("gpos").alias("fp"))
    tot = docs.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens")
    )
    blocks = spark.createDataFrame(
        [(b,) for b in _HL_BLOCKS], "b long"
    )
    return (
        fo.join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(blocks))
        .filter(F.col("b") <= F.col("n_tokens"))
        .groupBy(
            "source", F.col("b").cast("bigint").alias("block_size"), "n_tokens"
        )
        .agg(
            F.sum(F.when(F.col("fp") <= F.col("b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_types")
        )
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
