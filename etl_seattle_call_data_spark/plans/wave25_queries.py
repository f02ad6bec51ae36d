"""Twenty-fifth-wave coverage: Kruskal-Wallis and Friedman rank tests,
robust weekday seasonal decomposition, expected shortfall, V-shape
pattern extraction, and rolling OLS slopes.

docs/CROSS_ENGINE.md rules throughout. Rank statistics use EXACT
2x-midranks built from bounded value histograms (never a per-row rank
over the fact table); every cross-group reduction stays an exact
integer (per-group truncating DIV defined into the statistic) so no
float sum depends on row order; HUGEINT/DECIMAL(38,0) + rule-35
splits carry everything past 2^63 (rule 36 keeps oracle-side wide
math off DECIMAL).
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


# ---------------------------------------------------------------------------
# Friedman test: priority effects blocked by nation
# ---------------------------------------------------------------------------

_FR_K = 5  # treatments = order priorities


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
