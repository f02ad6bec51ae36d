"""Twenty-third-wave coverage: Chapman capture-recapture, chain-ladder
development factors, Pearson residual cells, log-free collocation lift,
step-indexed Sankey edges, and cents-digit forensic uniformity.

docs/CROSS_ENGINE.md rules throughout — notably rule 36 (oracle-side
wide-integer math rides HUGEINT because DuckDB ``//`` on DECIMAL is
true division), rule 35 splits for exact sums past 2^63, one shared
IEEE tree per float, and truncating ``DIV`` defined into every
integral statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq, text
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.docs_queries import _DUCK_TOKENS
from etl_seattle_call_data_spark.plans.mlprep_queries import _DUCK_BIGRAMS
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


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
# Log-free collocation lift over corpus bigrams
# ---------------------------------------------------------------------------

_COLL_MIN_SUPPORT = 20
_COLL_TOP_K = 20


@register(
    "bigram_collocation_lift",
    "Collocation strength for corpus bigrams WITHOUT logarithms "
    "(PMI's monotone twin): lift = P(xy) / (P(x) P(y)) computed as "
    "the exact integral ppm (c_xy * N_tok^2 * 1e6) DIV (N_big * c_x "
    "* c_y) — products ride HUGEINT/DECIMAL(38,0) (rule 36; ~1e30 at "
    "sf100, well inside 38 digits), so the ranking is bit-exact where "
    "a float PMI would be engine-ordered. Extends ngram_top_bigrams "
    "(raw frequency) with association strength; min support "
    f"{_COLL_MIN_SUPPORT} kills the hapax noise floor. Two token-key "
    "shuffles (bigram counts, unigram counts) + two equi-joins of "
    "bigrams to their component counts; scalars broadcast.",
    f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_tok FROM tok GROUP BY tok
    ),
    big AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bigram FROM documents)
      GROUP BY bigram
      HAVING COUNT(*) >= {_COLL_MIN_SUPPORT}
    ),
    tots AS (
      SELECT (SELECT CAST(SUM(c_tok) AS BIGINT) FROM uni) AS n_tok,
             (SELECT CAST(COALESCE(SUM(c_xy), 0) AS BIGINT)
              FROM (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
                    FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bigram
                          FROM documents) GROUP BY bigram)) AS n_big
    ),
    lifted AS (
      SELECT b.bigram, b.c_xy, ux.c_tok AS c_x, uy.c_tok AS c_y,
             CAST(CAST(b.c_xy AS HUGEINT) * t.n_tok * t.n_tok * 1000000
                  // (CAST(t.n_big AS HUGEINT) * ux.c_tok * uy.c_tok)
                  AS BIGINT) AS lift_ppm
      FROM big b
      JOIN uni ux ON ux.tok = string_split(b.bigram, ' ')[1]
      JOIN uni uy ON uy.tok = string_split(b.bigram, ' ')[2]
      CROSS JOIN tots t
    )
    SELECT bigram, c_xy, c_x, c_y, lift_ppm FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, bigram) AS rk
      FROM lifted
    ) WHERE rk <= {_COLL_TOP_K}
    """,
)
def q_bigram_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(text.tokens("text")).alias("tok"))
    uni = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_tok")
    )
    bigr = docs.select(F.explode(text.bigrams("text")).alias("bigram"))
    big_all = bigr.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    big = big_all.filter(F.col("c_xy") >= _COLL_MIN_SUPPORT)
    n_tok = uni.agg(F.sum("c_tok").cast("bigint").alias("n_tok"))
    n_big = big_all.agg(
        F.coalesce(F.sum("c_xy"), F.lit(0)).cast("bigint").alias("n_big")
    )
    lifted = (
        big.withColumn("x", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("y", F.split(F.col("bigram"), " ").getItem(1))
        .join(uni.select(F.col("tok").alias("x"), F.col("c_tok").alias("c_x")), "x")
        .join(uni.select(F.col("tok").alias("y"), F.col("c_tok").alias("c_y")), "y")
        .crossJoin(F.broadcast(dq.scalar_join(n_tok, n_big)))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(38,0)) * n_tok * n_tok * 1000000"
                " DIV (CAST(n_big AS DECIMAL(38,0)) * c_x * c_y) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    # r11: top-K via orderBy().limit() = TakeOrderedAndProject (per-
    # partition partial top-K), not a row_number over an unpartitioned
    # window — the supported-bigram table is corpus-scale, and the
    # global window funneled it through one task (the doc_keyphrase_rake
    # scale-killer class). (lift_ppm DESC, bigram) is a total order, so
    # the kept row set is identical.
    return (
        lifted.orderBy(F.col("lift_ppm").desc(), "bigram")
        .limit(_COLL_TOP_K)
        .select("bigram", "c_xy", "c_x", "c_y", "lift_ppm")
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
