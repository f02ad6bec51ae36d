"""Twenty-eighth-wave coverage: DiD placebo testing, sessionization
sensitivity, sort-key RLE advising, feed staleness SLOs, brand
cannibalization screening, and overdispersion indices.

docs/CROSS_ENGINE.md rules throughout. The sort-key advisor is the
wave's scale flagship: the Spark side counts value runs with the
two-phase bucket pattern (within-bucket windows + a bounded junction
table — no fact-scale global window anywhere), while the oracle
computes the SAME statistic with a plain global LAG — the equality is
itself the proof that the distributed decomposition is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import _du, _sp
from etl_seattle_call_data_spark.sources.registry import load_table


_DAY = "86400000000"


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
# Sessionization timeout sensitivity
# ---------------------------------------------------------------------------

_ST_TIMEOUTS = (600, 1800, 3600)


@register(
    "session_timeout_sensitivity",
    "Sessionization sensitivity analysis: session counts and mean "
    "events-per-session at 10/30/60-minute inactivity timeouts from "
    "ONE pass over per-user event gaps (exact integer second gaps "
    "from the same ts truncation the production sessionization "
    "uses) — the methodology audit that says how much the 30-minute "
    "convention MATTERS before anyone ships a session metric built "
    "on it. #sessions(T) = #users + #gaps > T, so all three "
    "timeouts are conditional sums over the same gap column. One "
    "shuffle on user_id; 3-row output.",
    f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) // 1000000
               - LAG(epoch_us(ts) // 1000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
    ),
    t(timeout_s) AS (VALUES {', '.join(f'({t})' for t in _ST_TIMEOUTS)})
    SELECT t.timeout_s,
           CAST(tot.n_users
                + SUM(CASE WHEN g.gap_s > t.timeout_s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           CAST(tot.n_events * 1000000
                // (tot.n_users
                    + SUM(CASE WHEN g.gap_s > t.timeout_s THEN 1 ELSE 0
                          END)) AS BIGINT) AS events_per_session_ppm
    FROM g CROSS JOIN tot CROSS JOIN t
    GROUP BY t.timeout_s, tot.n_users, tot.n_events
    """,
)
def q_session_timeout_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.expr("unix_micros(ts) DIV 1000000")
    g = ev.select((sec - F.lag(sec).over(w)).alias("gap_s"))
    tot = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    t = spark.createDataFrame(
        [(x,) for x in _ST_TIMEOUTS], "timeout_s long"
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(t))
        .groupBy("timeout_s", "n_users", "n_events")
        .agg(
            F.sum(
                F.when(F.col("gap_s") > F.col("timeout_s"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_gaps")
        )
        .select(
            "timeout_s",
            F.expr("CAST(n_users + n_gaps AS BIGINT)").alias("n_sessions"),
            F.expr(
                "CAST(n_events * 1000000 DIV (n_users + n_gaps) AS BIGINT)"
            ).alias("events_per_session_ppm"),
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


# ---------------------------------------------------------------------------
# Feed staleness SLO report
# ---------------------------------------------------------------------------


@register(
    "feed_staleness_slo",
    "Feed staleness SLO report per event type: minutes between each "
    "type's newest event and the newest event anywhere (the "
    "deterministic stand-in for wall-clock now), last-hour arrival "
    "counts, and the 60-minute SLO verdict — the freshness monitor "
    "that pages before a silent feed poisons downstream aggregates "
    "(sequence_gap_audit catches holes; this catches full stalls). "
    "Exact microsecond arithmetic, one grouped pass + a 1-row "
    "global-max broadcast.",
    """
    WITH m AS (
      SELECT event_type,
             MAX(epoch_us(ts)) AS max_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events),
    lh AS (
      SELECT e.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_last_hour
      FROM events e CROSS JOIN ref
      WHERE epoch_us(e.ts) > ref.ref_us - 3600000000
      GROUP BY e.event_type
    )
    SELECT m.event_type, m.n_events,
           (ref.ref_us - m.max_us) // 60000000 AS staleness_min,
           COALESCE(lh.n_last_hour, 0) AS n_last_hour,
           (ref.ref_us - m.max_us) // 60000000 <= 60 AS slo_fresh_60m
    FROM m
    CROSS JOIN ref
    LEFT JOIN lh ON lh.event_type = m.event_type
    """,
)
def q_feed_staleness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.max(F.expr("unix_micros(ts)")).alias("max_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    ref = ev.agg(F.max(F.expr("unix_micros(ts)")).alias("ref_us"))
    lh = (
        ev.crossJoin(F.broadcast(ref))
        .filter(F.expr("unix_micros(ts) > ref_us - 3600000000"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_last_hour"))
    )
    return (
        m.crossJoin(F.broadcast(ref))
        .join(lh, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.expr("(ref_us - max_us) DIV 60000000").alias("staleness_min"),
            F.coalesce(F.col("n_last_hour"), F.lit(0)).alias("n_last_hour"),
            F.expr("(ref_us - max_us) DIV 60000000 <= 60").alias(
                "slo_fresh_60m"
            ),
        )
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
