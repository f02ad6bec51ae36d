"""Twenty-sixth-wave coverage: Bradley-Terry preference ratings, MOSS
winnowing fingerprints, price-dispersion auditing, Nelson-Aalen
cumulative hazard, location quotients, and month-end loading
forensics.

docs/CROSS_ENGINE.md rules throughout: portable md5-derived hashing
(conv(substr(md5,1,15),16,10) ≡ ('0x'||…)::BIGINT), exact integer
moments with truncating DIV defined into each fixed-point statistic,
HUGEINT/DECIMAL(38,0) for products past 2^63 (rule 36), and bounded
windows only (per-doc positions, per-part lines, calendar day grids).
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

# portable 60-bit hash: identical bits on both engines
_H_SPARK = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_H_DUCK = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


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
# MOSS-style winnowing fingerprint census
# ---------------------------------------------------------------------------

_WN_K = 4  # tokens per k-gram
_WN_W = 5  # k-gram hashes per winnowing window


@register(
    "winnowing_fingerprint_census",
    "Winnowing fingerprint census (the MOSS plagiarism-detector "
    "selection scheme, Schleimer et al. 2003): per document, hash "
    f"every {_WN_K}-token gram (portable 60-bit md5 integer), slide "
    f"a {_WN_W}-hash window and keep each window's MINIMUM — the "
    "guarantee that any shared run of >= k+w-1 tokens shares a "
    "selected fingerprint, at ~1/w the density of the full gram set "
    "— then census fingerprints shared across >= 2 documents (top-20 "
    "by document spread). The selection-scheme upgrade of "
    "doc_fingerprint_rolling (one hash per doc) and the positional "
    "complement of dedup_ngram_jaccard (sets). The gram hashing AND "
    "the sliding window-min both run as per-document ARRAY ops inside "
    "one narrow projection (hash array lambda-bound via transform so "
    "it evaluates once per doc, not once per window — projection "
    "collapse would otherwise make it quadratic), so only SELECTED "
    "fingerprints (~1/w of grams) ever become rows: zero pre-rollup "
    "shuffles at scale (the small-input repartition is local-mode "
    "parallelism hygiene only), and the single fact-scale shuffle is "
    "the fingerprint rollup. 2.5x the window-exec formulation it "
    "replaced (2.6 s vs 6.4 s at sf0.1).",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             CASE WHEN len(tk) >= {_WN_K}
                  THEN list_transform(range(1, len(tk) - {_WN_K - 2}),
                       i -> array_to_string(tk[i:i + {_WN_K - 1}], ' '))
                  ELSE [] END AS grams
      FROM t
    ),
    h AS (
      SELECT doc_id, source, i AS p,
             {_H_DUCK.format(x='grams[i]')} AS hv,
             CAST(len(grams) AS BIGINT) AS n_g
      FROM g, unnest(range(1, len(grams) + 1)) AS u(i)
    ),
    wm AS (
      SELECT doc_id, source,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS fp,
             p, n_g
      FROM h
    ),
    fps AS (
      SELECT DISTINCT doc_id, source, fp
      FROM wm WHERE p <= n_g - {_WN_W - 1}
    )
    SELECT fp AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM fps
    GROUP BY fp
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, fingerprint
    LIMIT 20
    """,
)
def q_winnowing_fingerprint_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_seattle_call_data_spark.operators import text

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Local-mode hygiene only: a corpus small enough to scan as fewer
    # splits than cores would serialize the (CPU-bound) hashing pass.
    # At 100 TB the parquet scan already yields >> cores splits and
    # this branch never fires — the plan stays shuffle-free until the
    # fingerprint rollup.
    cpus = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < cpus:
        base = base.repartition(cpus)
    docs = base.select("doc_id", "source", text.tokens("text").alias("tk"))
    gram_x = f"array_join(slice(tk, i, {_WN_K}), ' ')"
    hv_expr = (
        f"CASE WHEN size(tk) >= {_WN_K}"
        f" THEN transform(sequence(1, size(tk) - {_WN_K - 1}),"
        f"      i -> {_H_SPARK.format(x=gram_x)})"
        f" ELSE array() END"
    )
    # transform(array(hv), ...) lambda-binds the hash array so it is
    # computed ONCE per document: referencing it as a projected column
    # would let CollapseProject inline the whole array build into every
    # window's array_min(slice(...)) — observed 245 s vs 2.6 s at sf0.1.
    # Tail windows shorter than w are excluded by the sequence bound,
    # and array_distinct replaces the exploded DISTINCT shuffle.
    sel_expr = (
        f"flatten(transform(array({hv_expr}), hv -> "
        f"CASE WHEN size(hv) >= {_WN_W}"
        f" THEN array_distinct(transform(sequence(1, size(hv) - {_WN_W - 1}),"
        f"      i -> array_min(slice(hv, i, {_WN_W}))))"
        f" ELSE array() END))"
    )
    fps = docs.select(
        "doc_id", "source", F.explode(F.expr(sel_expr)).alias("fp")
    )
    return (
        fps.groupBy(F.col("fp").alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "fingerprint")
        .limit(20)
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
# Nelson-Aalen cumulative hazard of the second order
# ---------------------------------------------------------------------------


@register(
    "nelson_aalen_second_order",
    "Nelson-Aalen cumulative hazard of a customer's SECOND order, "
    "with right-censoring done honestly: customers who never "
    "reordered are at risk until the end of the observation window "
    "(censor time = last calendar day - first order day), risk sets "
    "n(g) come from suffix sums of the exit histogram on the BOUNDED "
    "gap-day grid, and each hazard increment d(g)*1e9 DIV n(g) is an "
    "exact ppb integer (truncation defined into the estimator) so "
    "the cumulative sum is order-free where Kaplan-Meier float "
    "products would not be (conversion_survival_curve ignores "
    "censoring; this is the estimator that doesn't). First/second "
    "order days via per-customer min + conditional min over the "
    "(customer)-keyed shuffle; emits one row per gap day with "
    "events.",
    f"""
    WITH r AS (
      SELECT o_custkey AS ck,
             epoch_us(o_orderdate) // {_DAY} AS day,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY epoch_us(o_orderdate), o_orderkey)
               AS rn
      FROM orders
    ),
    horizon AS (SELECT MAX(day) AS maxd FROM r),
    cust AS (
      SELECT ck,
             MAX(CASE WHEN rn = 1 THEN day END) AS d1,
             MAX(CASE WHEN rn = 2 THEN day END) AS d2
      FROM r WHERE rn <= 2 GROUP BY ck
    ),
    gaps AS (
      SELECT ck,
             CASE WHEN d2 IS NOT NULL THEN d2 - d1 ELSE maxd - d1 END AS g,
             CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM cust CROSS JOIN horizon
    ),
    hist AS (
      SELECT g, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS exits
      FROM gaps GROUP BY g
    ),
    risk AS (
      SELECT g, d,
             CAST((SELECT COUNT(*) FROM gaps) -
               COALESCE(SUM(exits) OVER (ORDER BY g
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM hist
    ),
    haz AS (
      SELECT g, d, n_risk,
             d * 1000000000 // n_risk AS term_ppb
      FROM risk
    )
    SELECT g AS gap_days, d AS n_events, n_risk,
           term_ppb AS hazard_ppb,
           CAST(SUM(term_ppb) OVER (ORDER BY g
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_hazard_ppb
    FROM haz WHERE d > 0
    """,
)
def q_nelson_aalen_second_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_custkey").orderBy(
        F.expr("unix_micros(o_orderdate)"), "o_orderkey"
    )
    r = o.select(
        F.col("o_custkey").alias("ck"),
        F.expr(f"unix_micros(o_orderdate) DIV {_DAY}").alias("day"),
        F.row_number().over(wr).alias("rn"),
    )
    horizon = r.agg(F.max("day").alias("maxd"))
    cust = (
        r.filter(F.col("rn") <= 2)
        .groupBy("ck")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("day"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("day"))).alias("d2"),
        )
    )
    gaps = cust.crossJoin(F.broadcast(horizon)).select(
        "ck",
        F.when(
            F.col("d2").isNotNull(), F.col("d2") - F.col("d1")
        )
        .otherwise(F.col("maxd") - F.col("d1"))
        .alias("g"),
        F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    hist = gaps.groupBy("g").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("exits"),
    )
    total = gaps.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wcum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    # bounded gap-day grid: the unpartitioned windows are calendar-bounded
    risk = hist.crossJoin(F.broadcast(total)).select(
        "g",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("exits").over(wcum), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    haz = risk.select(
        "g",
        "d",
        "n_risk",
        F.expr("d * 1000000000 DIV n_risk").alias("term_ppb"),
    )
    wfull = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    return (
        haz.select(
            F.col("g").alias("gap_days"),
            F.col("d").alias("n_events"),
            "n_risk",
            F.col("term_ppb").alias("hazard_ppb"),
            F.sum("term_ppb").over(wfull).cast("bigint").alias(
                "cum_hazard_ppb"
            ),
        )
        .filter(F.col("n_events") > 0)
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
