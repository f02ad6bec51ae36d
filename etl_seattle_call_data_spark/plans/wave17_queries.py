"""Seventeenth-wave coverage: tie-corrected Spearman correlation,
Pettitt rank changepoint, Laspeyres/Paasche/Fisher price indices,
resource-allocation link prediction, inclusion-dependency profiling,
and gaps-and-islands interval coverage.

docs/CROSS_ENGINE.md rules throughout: exact DECIMAL(38,0) sums with
one final double expression tree (rules 1-2), truncating DIV fixed
point (rule 4), sqrt as the only transcendental (rule 8), midrank*2
integers so tie-corrected rank statistics never touch fractions,
rule-11 epoch_us day arithmetic, rule-19 integer year/month, rule-20
total orders on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


def _cents(col: Column) -> Column:
    return F.round(col * 100).cast("bigint")


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
# Pettitt rank changepoint on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "pettitt_changepoint_daily",
    "Pettitt distribution-free changepoint on daily revenue: "
    "U_t = sum_{i<=t} sum_{j>t} sgn(x_i - x_j) via the exact midrank "
    "identity U_t = sum_{i<=t} rx2_i - t*(n+1) with rx2 = 2*midrank "
    "= 2*RANK + #ties - 1 (all integers, no libm), K = max|U_t| with "
    "the changepoint at the argmax (earliest-day tie-break, rule "
    "20), and the Pettitt exponent lambda = 6K^2/(n^3+n^2) as ONE "
    "IEEE division of exact integers (p ~ exp(-lambda); the exp is "
    "left to the caller — rule 4 keeps libm out of the oracle). "
    "Windows run over the calendar-bounded day table (~2.4k rows at "
    "ANY SF — horizon-bounded, not data-bounded), same posture as "
    "cusum_changepoint_daily.",
    """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    r AS (
      SELECT day, rev,
             2 * RANK() OVER (ORDER BY rev)
               + COUNT(*) OVER (PARTITION BY rev) - 1 AS rx2,
             ROW_NUMBER() OVER (ORDER BY day) AS t,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    u AS (
      SELECT day, t, n,
             SUM(rx2) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - t * (n + 1) AS ut
      FROM r
    ),
    k AS (SELECT * FROM u WHERE t < n ORDER BY abs(ut) DESC, day LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(day AS TIMESTAMP) AS changepoint_day,
           CAST(abs(ut) AS BIGINT) AS k_stat,
           CAST(6 * abs(ut) * abs(ut) AS DOUBLE)
             / CAST(n * n * n + n * n AS DOUBLE) AS lambda_stat
    FROM k
    """,
)
def q_pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("rev")
    )
    # calendar-bounded single-partition windows (docstring bound)
    rx2 = (
        2 * F.rank().over(Window.orderBy("rev"))
        + F.count(F.lit(1)).over(Window.partitionBy("rev"))
        - 1
    )
    r = daily.select(
        "day",
        rx2.alias("rx2"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    tot = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wday = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    u = dq.scalar_join(
        r.withColumn("s2", F.sum("rx2").over(wday)), tot
    ).withColumn("ut", F.col("s2") - F.col("t") * (F.col("n") + 1))
    k = u.filter(F.col("t") < F.col("n")).orderBy(
        F.abs(F.col("ut")).desc(), "day"
    ).limit(1)
    return k.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("day").alias("changepoint_day"),
        F.abs(F.col("ut")).cast("bigint").alias("k_stat"),
        F.expr(
            "CAST(6 * abs(ut) * abs(ut) AS DOUBLE)"
            " / CAST(n * n * n + n * n AS DOUBLE)"
        ).alias("lambda_stat"),
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher monthly price indices
# ---------------------------------------------------------------------------


@register(
    "price_index_fisher_monthly",
    "Monthly Laspeyres, Paasche, and Fisher price indices vs the "
    "first shipping month: per-(month, part) unit prices in exact "
    "micro-dollar fixed point (cents*10000 DIV qty, rule 4), "
    "basket-weighted sums in DECIMAL(38,0) (price*qty products pass "
    "2^53 at sf1), one IEEE division per index and one sqrt for "
    "Fisher (rules 1-2, 8). Parts enter a month's index only when "
    "present in BOTH that month and the base month (the standard "
    "matched-sample rule). One fact shuffle to (month, part), a "
    "broadcastable base-month join on partkey, ~80-row output.",
    """
    WITH pm AS (
      SELECT CAST(year(l_shipdate) AS INTEGER) * 100
               + CAST(month(l_shipdate) AS INTEGER) AS ym,
             l_partkey AS pk,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents,
             SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    up AS (SELECT ym, pk, cents * 10000 // qty AS pmicro, qty FROM pm),
    base AS (
      SELECT pk, pmicro AS p0, qty AS q0 FROM up
      WHERE ym = (SELECT MIN(ym) FROM up)
    ),
    j AS (
      SELECT u.ym, u.pmicro, u.qty, b.p0, b.q0
      FROM up u JOIN base b ON b.pk = u.pk
    ),
    s AS (
      SELECT ym,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(CAST(pmicro * q0 AS DECIMAL(38,0))) AS DOUBLE) AS lt,
             CAST(SUM(CAST(p0 * q0 AS DECIMAL(38,0))) AS DOUBLE) AS lb,
             CAST(SUM(CAST(pmicro * qty AS DECIMAL(38,0))) AS DOUBLE) AS pt,
             CAST(SUM(CAST(p0 * qty AS DECIMAL(38,0))) AS DOUBLE) AS pb
      FROM j GROUP BY ym
    )
    SELECT ym, n_parts,
           lt / lb AS laspeyres,
           pt / pb AS paasche,
           sqrt((lt / lb) * (pt / pb)) AS fisher
    FROM s
    """,
)
def q_price_index_fisher_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        (
            F.year("l_shipdate").cast("int") * 100
            + F.month("l_shipdate").cast("int")
        ).alias("ym"),
        F.col("l_partkey").alias("pk"),
    ).agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("cents"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
    )
    # r11 NOTE (measured negative — do not "fix" again): up feeds three
    # consumers (min-ym scalar, base-month filter, join probe), but a
    # checkpoint barrier here measured SLOWER (count best-of-5:
    # 1.50 s → 2.08 s at sf0.1) — the (month, part) rollup is
    # near-part-cardinality, so materializing it costs more than the
    # pipelined branch re-evaluations it saves (skipgram counterexample
    # class). Keeping the three-consumer shape.
    up = pm.select(
        "ym", "pk", F.expr("cents * 10000 DIV qty").alias("pmicro"), "qty"
    )
    min_ym = up.agg(F.min("ym").alias("min_ym"))
    base = (
        dq.scalar_join(up, min_ym)
        .filter(F.col("ym") == F.col("min_ym"))
        .select("pk", F.col("pmicro").alias("p0"), F.col("qty").alias("q0"))
    )
    j = up.join(base, "pk")
    s = j.groupBy("ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum((F.col("pmicro") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("lt"),
        F.sum((F.col("p0") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("lb"),
        F.sum((F.col("pmicro") * F.col("qty")).cast("decimal(38,0)"))
        .cast("double")
        .alias("pt"),
        F.sum((F.col("p0") * F.col("qty")).cast("decimal(38,0)"))
        .cast("double")
        .alias("pb"),
    )
    return s.select(
        "ym",
        "n_parts",
        (F.col("lt") / F.col("lb")).alias("laspeyres"),
        (F.col("pt") / F.col("pb")).alias("paasche"),
        F.sqrt((F.col("lt") / F.col("lb")) * (F.col("pt") / F.col("pb"))).alias(
            "fisher"
        ),
    )


# ---------------------------------------------------------------------------
# Resource-allocation link prediction on the strong co-purchase graph
# ---------------------------------------------------------------------------

_LP_MIN_COOCCUR = 2
_LP_DEG_CAP = 60
_LP_SCALE = 1_000_000_000
_LP_TOPK = 20


@register(
    "link_prediction_resource_alloc",
    "Resource-allocation link prediction on the STRONG co-purchase "
    "graph (pairs co-bought in >= 2 orders — the standard "
    "noise-floor edge filter): for every non-adjacent pair at "
    "distance 2, score = sum over common neighbors z of 1e9 DIV "
    "deg(z) — the RA index, the 1/deg cousin of Adamic-Adar that "
    "needs no log (rule 4 keeps libm out). Two-hop candidates come "
    "from the adjacency self-join restricted to intermediate nodes "
    "with deg <= 60: the fan-out is bounded by cap^2 per node (hubs "
    "carry ~zero RA weight anyway), so the join never goes "
    "quadratic in the catalog; existing edges are removed by "
    "anti-join. Top-20 under the total order (score DESC, part_u, "
    "part_w) (rule 20). Strong-graph degrees in this corpus: max 51 "
    "at sf0.001, max 6 at sf0.1 — the cap binds only pathological "
    "hubs at 100x.",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
      SELECT a.pk AS pa, b.pk AS pb
      FROM items a JOIN items b ON b.ok = a.ok AND b.pk > a.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= {_LP_MIN_COOCCUR}
    ),
    adj AS (
      SELECT pa AS node, pb AS nbr FROM edges
      UNION ALL
      SELECT pb AS node, pa AS nbr FROM edges
    ),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
    cand AS (
      SELECT a1.nbr AS u, a2.nbr AS w,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM({_LP_SCALE} // g.d) AS BIGINT) AS score
      FROM adj a1
      JOIN adj a2 ON a2.node = a1.node AND a2.nbr > a1.nbr
      JOIN deg g ON g.node = a1.node AND g.d <= {_LP_DEG_CAP}
      GROUP BY a1.nbr, a2.nbr
    )
    SELECT c.u AS part_u, c.w AS part_w,
           c.cn AS common_neighbors, c.score AS ra_score_fp
    FROM cand c
    LEFT JOIN edges e ON e.pa = c.u AND e.pb = c.w
    WHERE e.pa IS NULL
    ORDER BY c.score DESC, c.u, c.w LIMIT {_LP_TOPK}
    """,
)
def q_link_prediction_resource_alloc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_seattle_call_data_spark.plans.shared import (
        memo_copurchase_edges,
        memo_copurchase_pairs,
    )

    edges = (
        memo_copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_ab") >= _LP_MIN_COOCCUR)
        .select("part_a", "part_b")
    )
    # adjacency from the session-shared src-partitioned mirrored edge
    # cache (three consumers below: deg / a1 / a2) — each reference
    # scans the persisted frame instead of re-unioning the pair table,
    # and groupBy(node=src) satisfies its distribution from the cache
    adj = (
        memo_copurchase_edges(spark, sf_dir)
        .filter(F.col("n_ab") >= _LP_MIN_COOCCUR)
        .select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a1 = adj.select(F.col("node"), F.col("nbr").alias("u"))
    a2 = adj.select(F.col("node"), F.col("nbr").alias("w"))
    cand = (
        a1.join(a2, "node")
        .filter(F.col("w") > F.col("u"))
        .join(deg.filter(F.col("d") <= _LP_DEG_CAP), "node")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr(f"{_LP_SCALE} DIV d")).cast("bigint").alias("score"),
        )
    )
    nonedge = cand.join(
        edges,
        (cand.u == edges.part_a) & (cand.w == edges.part_b),
        "left_anti",
    )
    return (
        nonedge.orderBy(F.col("score").desc(), "u", "w")
        .limit(_LP_TOPK)
        .select(
            F.col("u").alias("part_u"),
            F.col("w").alias("part_w"),
            F.col("cn").alias("common_neighbors"),
            F.col("score").alias("ra_score_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Inclusion-dependency (foreign-key candidate) profiling
# ---------------------------------------------------------------------------

_IND_PAIRS: list[tuple[str, str, str, str, str]] = [
    ("orders.o_custkey<customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey<part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey<supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem.l_orderkey<orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("events.user_id<customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
    ("customer.c_custkey<orders.o_custkey", "customer", "c_custkey", "orders", "o_custkey"),
]


def _ind_pair_sql(label: str, ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT '{label}' AS dependency,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contained,
           CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS containment_ppm,
           SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) = COUNT(*)
             AS full_inclusion
    FROM (SELECT DISTINCT {cc} AS k FROM {ct}) c
    LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) p ON p.k = c.k
    """


@register(
    "inclusion_dependency_profile",
    "Inclusion-dependency discovery (Binder/SPIDER-style FK "
    "profiling) over a fixed candidate list of column pairs: for "
    "each child->parent pair, the distinct child key count, how many "
    "of those appear in the parent, containment in truncated ppm, "
    "and a full-inclusion verdict — the profiling primitive that "
    "finds joinable keys and orphaned references before anyone "
    "writes a join. Each pair is a distinct-project + left join on "
    "the key (the parent side prunes to its key column and "
    "broadcasts when dim-sized); the 6 one-row results union. "
    "Includes a deliberately partial reverse pair "
    "(customer->orders: dormant customers) so the partial path is "
    "exercised at every SF.",
    "\nUNION ALL\n".join(_ind_pair_sql(*p) for p in _IND_PAIRS),
)
def q_inclusion_dependency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out: DataFrame | None = None
    for label, ct, cc, pt, pc in _IND_PAIRS:
        child = load_table(spark, sf_dir, ct).select(F.col(cc).alias("k")).distinct()
        parent = (
            load_table(spark, sf_dir, pt).select(F.col(pc).alias("k")).distinct()
        )
        hit = F.sum(
            F.when(F.col("pk").isNotNull(), 1).otherwise(0)
        )
        row = (
            child.join(parent.select(F.col("k").alias("pk")), child.k == F.col("pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                hit.cast("bigint").alias("n_contained"),
                F.expr(
                    "CAST(SUM(CASE WHEN pk IS NOT NULL THEN 1 ELSE 0 END)"
                    " * 1000000 DIV COUNT(*) AS BIGINT)"
                ).alias("containment_ppm"),
                (
                    F.sum(F.when(F.col("pk").isNotNull(), 1).otherwise(0))
                    == F.count(F.lit(1))
                ).alias("full_inclusion"),
            )
            .select(
                F.lit(label).alias("dependency"),
                "n_child",
                "n_contained",
                "containment_ppm",
                "full_inclusion",
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# Gaps-and-islands interval coverage per customer
# ---------------------------------------------------------------------------

_IV_WINDOW_DAYS = 30


@register(
    "interval_coverage_islands",
    "Gaps-and-islands interval merge per customer: each order opens "
    "a 30-day service interval [day, day+30); overlapping intervals "
    "merge into islands (new island when start > running max of "
    "prior ends — the classic sweep), and the output is per-customer "
    "island count, union-covered days (no double counting), total "
    "span, and coverage ppm. Day arithmetic is exact integer "
    "epoch-days (epoch_us DIV 86.4e9, rule 11); all windows "
    "partition by custkey (orders-per-customer bounded), so the "
    "plan is one fact shuffle on custkey — the interval-union "
    "primitive behind SLA uptime, subscription coverage, and "
    "entitlement audits.",
    f"""
    WITH iv AS (
      SELECT o_custkey AS custkey,
             epoch_us(o_orderdate) // 86400000000 AS s,
             epoch_us(o_orderdate) // 86400000000 + {_IV_WINDOW_DAYS} AS e
      FROM orders
    ),
    m AS (
      SELECT custkey, s, e,
             MAX(e) OVER (PARTITION BY custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM iv
    ),
    fl AS (
      SELECT custkey, s, e,
             CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS isnew
      FROM m
    ),
    isl AS (
      SELECT custkey, s, e,
             SUM(isnew) OVER (PARTITION BY custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM fl
    ),
    agg AS (
      SELECT custkey, island,
             MIN(s) AS i_start, MAX(e) AS i_end, COUNT(*) AS cnt
      FROM isl GROUP BY custkey, island
    )
    SELECT custkey,
           CAST(SUM(cnt) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS covered_days,
           CAST(MAX(i_end) - MIN(i_start) AS BIGINT) AS span_days,
           CAST(SUM(i_end - i_start) * 1000000
                // (MAX(i_end) - MIN(i_start)) AS BIGINT) AS coverage_ppm
    FROM agg GROUP BY custkey
    """,
)
def q_interval_coverage_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) DIV 86400000000")
    iv = o.select(
        F.col("o_custkey").alias("custkey"),
        day.alias("s"),
        (day + _IV_WINDOW_DAYS).alias("e"),
    )
    wprev = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fl = iv.withColumn("pme", F.max("e").over(wprev)).withColumn(
        "isnew",
        F.when(F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1).otherwise(0),
    )
    isl = fl.withColumn("island", F.sum("isnew").over(wcum))
    agg = isl.groupBy("custkey", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return agg.groupBy("custkey").agg(
        F.sum("cnt").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("covered_days"),
        (F.max("i_end") - F.min("i_start")).cast("bigint").alias("span_days"),
        F.expr(
            "CAST(SUM(i_end - i_start) * 1000000"
            " DIV (MAX(i_end) - MIN(i_start)) AS BIGINT)"
        ).alias("coverage_ppm"),
    )
