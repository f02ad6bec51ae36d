"""Sixth-wave coverage: privacy audits beyond k-anonymity, cascade-
delete (right-to-be-forgotten) impact analysis, scalable per-group
reservoir sampling, feature scaling, categorical association
(Cramér's V), optimizer-statistics join-size estimation, skyline
(Pareto-frontier) queries, and seasonal-naive forecast evaluation.

Cross-engine rules from docs/CROSS_ENGINE.md apply throughout: exact
integer / decimal arithmetic until one final IEEE division (or sqrt,
rule 8), `DIV` ≡ `//` fixed point (rules 4/6/25), and the
quotient+remainder trick for >2^53 intermediate sums (twap pattern,
plans/behavior_queries.py:332).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.operators.sampling import hash_bucket
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Privacy: l-diversity (companion to k_anonymity_audit)
# ---------------------------------------------------------------------------


@register(
    "l_diversity_audit",
    "l-diversity audit: for every quasi-identifier group (mktsegment × "
    "nation) of customers with orders, the number of DISTINCT sensitive "
    "values (order priority) seen — groups with l < 3 are re-identification "
    "risks even when k-anonymity passes (homogeneity attack). One "
    "equi-join + one grouped COUNT(DISTINCT) shuffle; the output is "
    "bounded by |segments| × |nations| (25 × 5), not by rows — the audit "
    "report a 100 TB table produces is the same 125 rows.",
    """
    SELECT c_mktsegment, CAST(c_nationkey AS INTEGER) AS c_nationkey,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           COUNT(DISTINCT o_orderpriority) < 3 AS at_risk
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", F.col("c_nationkey").cast("int").alias("c_nationkey"))
        .agg(
            F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .withColumn("at_risk", F.col("l_distinct") < 3)
    )


# ---------------------------------------------------------------------------
# GDPR cascade-delete impact (right to be forgotten at warehouse scale)
# ---------------------------------------------------------------------------


@register(
    "cascade_delete_impact",
    "Right-to-be-forgotten impact report: a deterministic 2% tombstone "
    "set of customers (engine-portable md5 bucket — the same consistent-"
    "hash sample both engines and any rerun reproduce) cascaded through "
    "the foreign-key graph: their orders, those orders' lineitems, and "
    "their event stream. One row per relation with the delete footprint. "
    "Scale: each hop is a key equi-join that AQE resolves as a broadcast "
    "semi-join while the touched-key set is small and degrades to a "
    "shuffle join when it is not; no fact table is scanned more than "
    "once, and the report is 4 rows regardless of corpus size.",
    """
    WITH tomb AS (
      SELECT c_custkey FROM customer
      WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 2
    ),
    doomed_orders AS (
      SELECT o_orderkey FROM orders JOIN tomb ON o_custkey = c_custkey
    )
    SELECT 'customer' AS rel, CAST(COUNT(*) AS BIGINT) AS n_rows FROM tomb
    UNION ALL
    SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM doomed_orders
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT)
    FROM lineitem JOIN doomed_orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT)
    FROM events JOIN tomb ON user_id = c_custkey
    """,
)
def q_cascade_delete_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    tomb = c.filter(hash_bucket("c_custkey", 100) < 2).select("c_custkey")
    doomed_o = o.join(tomb, o.o_custkey == tomb.c_custkey).select("o_orderkey")

    def cnt(df: DataFrame, rel: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
            F.lit(rel).alias("rel"), "n_rows"
        )

    return (
        cnt(tomb, "customer")
        .unionByName(cnt(doomed_o, "orders"))
        .unionByName(
            cnt(li.join(doomed_o, li.l_orderkey == doomed_o.o_orderkey), "lineitem")
        )
        .unionByName(cnt(ev.join(tomb, ev.user_id == tomb.c_custkey), "events"))
    )


# ---------------------------------------------------------------------------
# Scalable deterministic per-group reservoir sampling
# ---------------------------------------------------------------------------

_RSV_K = 20
_RSV_OVER = 4  # oversampling factor for the pre-filter


@register(
    "reservoir_sample_per_group",
    "Deterministic fixed-size sample of k=20 events per event_type — the "
    "distributed reservoir: a first pass counts each group, a narrow "
    "hash pre-filter keeps ~k·4 rows per group (P[keep] = k·4/n_g via a "
    "20-bit md5 hash, reproducible across engines/partitionings), and "
    "only the surviving ~80 rows per group are ranked. The naive "
    "window-rank reservoir serializes each group's FULL population "
    "through one task — this plan's per-group sort input is O(k·4) "
    "regardless of corpus size, which is what makes fixed-size-per-class "
    "eval sets feasible on a 100 TB event log.",
    f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g FROM events GROUP BY event_type
    ),
    kept AS (
      SELECT e.event_type, e.event_id,
             ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 5))::BIGINT AS h20
      FROM events e JOIN g USING (event_type)
      WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 5))::BIGINT * g.n_g
            < {_RSV_K * _RSV_OVER} * 1048576
    )
    SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id FROM (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h20, event_id) AS rn
      FROM kept
    ) WHERE rn <= {_RSV_K}
    """,
)
def q_reservoir_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    h20 = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 5), 16, 10)
        .cast("long")
        .alias("h20")
    )
    kept = (
        ev.select("event_type", "event_id", h20)
        .join(F.broadcast(g), "event_type")
        .filter(F.col("h20") * F.col("n_g") < F.lit(_RSV_K * _RSV_OVER * 1048576))
    )
    w = Window.partitionBy("event_type").orderBy("h20", "event_id")
    return (
        kept.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _RSV_K)
        .select("event_type", "rn", "event_id")
    )


# ---------------------------------------------------------------------------
# Feature scaling (z-score + min-max) per segment — exact cross-engine
# ---------------------------------------------------------------------------


@register(
    "feature_scaler_suite",
    "Per-segment feature scaling of order totals: z-score "
    "((x−μ)/σ, population σ) and min-max ((x−min)/(max−min)) — the two "
    "standard normalizations every training-data pipeline applies before "
    "numeric features ship. Exactness: prices become integer cents "
    "(DECIMAL cast — exact 2dp), Σx and min/max are exact BIGINTs, Σx² "
    "runs in DECIMAL(38,0)/HUGEINT and crosses back under 2^53 via the "
    "quotient+remainder split (twap pattern, CROSS_ENGINE + "
    "behavior_queries.py:332) so every derived double is bit-identical. "
    "One grouped-agg shuffle builds the 5-row stats table; the scaled "
    "output is a broadcast-join narrow map over the fact table.",
    """
    WITH c AS (
      SELECT o_orderkey, c_mktsegment AS seg,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_c,
             SUM(CAST(cents AS HUGEINT) * cents) AS ssq,
             CAST(MIN(cents) AS BIGINT) AS min_c,
             CAST(MAX(cents) AS BIGINT) AS max_c
      FROM c GROUP BY seg
    ),
    st AS (
      SELECT seg, n, min_c, max_c,
             CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
             CAST(CAST(ssq // n AS BIGINT) AS DOUBLE)
               + CAST(CAST(ssq % n AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE)
               AS ex2_c
      FROM s
    )
    SELECT o_orderkey, seg,
           (CAST(cents AS DOUBLE) - mean_c)
             / NULLIF(sqrt(ex2_c - mean_c * mean_c), 0) AS z_score,
           CAST(cents - min_c AS DOUBLE)
             / NULLIF(CAST(max_c - min_c AS DOUBLE), 0) AS min_max
    FROM c JOIN st USING (seg)
    """,
)
def q_feature_scaler_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    c = o.join(cu, o.o_custkey == cu.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    s = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_c"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("ssq"),
        F.min("cents").cast("bigint").alias("min_c"),
        F.max("cents").cast("bigint").alias("max_c"),
    )
    st = s.select(
        "seg",
        "n",
        "min_c",
        "max_c",
        (F.col("sum_c").cast("double") / F.col("n").cast("double")).alias("mean_c"),
        (
            F.expr("CAST(ssq DIV n AS BIGINT)").cast("double")
            + F.expr("CAST(ssq % n AS BIGINT)").cast("double")
            / F.col("n").cast("double")
        ).alias("ex2_c"),
    )
    return c.join(F.broadcast(st), "seg").select(
        "o_orderkey",
        "seg",
        # NULLIF guards (CROSS_ENGINE rule 40): a constant-price or
        # single-order segment zeroes sigma and the min-max span
        (
            (F.col("cents").cast("double") - F.col("mean_c"))
            / F.nullif(
                F.sqrt(F.col("ex2_c") - F.col("mean_c") * F.col("mean_c")),
                F.lit(0.0),
            )
        ).alias("z_score"),
        (
            (F.col("cents") - F.col("min_c")).cast("double")
            / F.nullif(
                (F.col("max_c") - F.col("min_c")).cast("double"), F.lit(0.0)
            )
        ).alias("min_max"),
    )


# ---------------------------------------------------------------------------
# Categorical association: chi-squared + Cramér's V in fixed point
# ---------------------------------------------------------------------------


@register(
    "cramers_v_association",
    "Association strength between order priority and order status: "
    "χ² over the 5×3 contingency table and Cramér's V = "
    "√(χ²/(N·min(r−1,c−1))). All contingency math is exact integers — "
    "the per-cell deviation d = o·N − rt·ct stays under N² < 2^63, the "
    "χ² contribution is fixed-point ((d DIV N)²·10⁶ DIV (rt·ct DIV N)) "
    "with truncation identical on both engines (rule 25), and the one "
    "sqrt at the end is IEEE-exact (rule 8). The contingency table is "
    "|priorities|×|statuses| rows — a single grouped-count shuffle; "
    "everything after operates on ≤15 rows.",
    """
    WITH cell AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    tot AS (
      SELECT pr, st, o,
             SUM(o) OVER (PARTITION BY pr) AS rt,
             SUM(o) OVER (PARTITION BY st) AS ct,
             SUM(o) OVER () AS n
      FROM cell
    ),
    chi AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM(
               ((o * n - rt * ct) // n) * ((o * n - rt * ct) // n) * 1000000
               // ((rt * ct) // n)
             ) AS BIGINT) AS chi2_fp
      FROM tot
    )
    SELECT n, chi2_fp,
           sqrt((CAST(chi2_fp AS DOUBLE) / 1000000.0) / (CAST(n AS DOUBLE) * 2.0))
             AS cramers_v
    FROM chi
    """,
)
def q_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.col("o_orderpriority").alias("pr"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    # windows over the bounded 15-row contingency table (docstring bound)
    tot = cell.select(
        "pr",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pr")).alias("rt"),
        F.sum("o").over(Window.partitionBy("st")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    chi = tot.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "((o * n - rt * ct) DIV n) * ((o * n - rt * ct) DIV n) * 1000000"
                " DIV ((rt * ct) DIV n)"
            )
        )
        .cast("bigint")
        .alias("chi2_fp"),
    )
    return chi.select(
        "n",
        "chi2_fp",
        F.sqrt(
            (F.col("chi2_fp").cast("double") / 1000000.0)
            / (F.col("n").cast("double") * 2.0)
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Optimizer statistics: bucketed-histogram join-size estimation vs exact
# ---------------------------------------------------------------------------

_JSE_BUCKETS = 256


@register(
    "join_size_estimate_eval",
    "Optimizer-statistics eval: estimate the lineitem self-join size on "
    "l_partkey from a 256-bucket degree histogram (per bucket: Σdeg and "
    "distinct keys; uniform-within-bucket estimate Σ_b S_b² DIV k_b) and "
    "measure it against the exact Σ_k deg(k)². This is the statistic a "
    "cost-based planner keeps per join column — the histogram is "
    "256 rows however large the table, built in one grouped-agg pass "
    "over the per-key degree table; exact and estimate are compared in "
    "fixed point. Also a skew diagnostic: estimate ≪ exact means the "
    "degree distribution is heavy-tailed inside buckets.",
    f"""
    WITH deg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
      FROM lineitem GROUP BY l_partkey
    ),
    ex AS (SELECT CAST(SUM(d * d) AS BIGINT) AS exact_size FROM deg),
    hist AS (
      SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
               % {_JSE_BUCKETS} AS b,
             CAST(SUM(d) AS BIGINT) AS s_b,
             CAST(COUNT(*) AS BIGINT) AS k_b
      FROM deg GROUP BY 1
    ),
    est AS (SELECT CAST(SUM(s_b * s_b // k_b) AS BIGINT) AS est_size FROM hist)
    SELECT exact_size, est_size,
           CAST((est_size - exact_size) * 1000000 // exact_size AS BIGINT)
             AS rel_error_fp
    FROM ex CROSS JOIN est
    """,
)
def q_join_size_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ex = deg.agg(F.sum(F.col("d") * F.col("d")).cast("bigint").alias("exact_size"))
    hist = deg.groupBy(
        (hash_bucket("l_partkey", _JSE_BUCKETS)).alias("b")
    ).agg(
        F.sum("d").cast("bigint").alias("s_b"),
        F.count(F.lit(1)).cast("bigint").alias("k_b"),
    )
    est = hist.agg(
        F.sum(F.expr("s_b * s_b DIV k_b")).cast("bigint").alias("est_size")
    )
    return (
        dq.scalar_join(ex, est)  # two 1-row aggregates, broadcast NLJ
        .select(
            "exact_size",
            "est_size",
            F.expr("CAST((est_size - exact_size) * 1000000 DIV exact_size AS BIGINT)")
            .alias("rel_error_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier): cheapest-yet-latest orders
# ---------------------------------------------------------------------------

_SKY_BUCKET_CENTS = 1_000_000  # $10k coarse price buckets


@register(
    "skyline_pareto_orders",
    "Skyline / Pareto-frontier query: orders not strictly dominated on "
    "(price ↓, order date ↑) — an order survives iff no strictly "
    "cheaper order has a strictly later date. Computed WITHOUT the "
    "O(n²) dominance self-join: prefix-max of date over price order, "
    "two-phase like operators/ranking.py — per-$10k-bucket max dates "
    "(bounded bucket table, window over it is the documented "
    "bounded-window contract), then an in-bucket running max over "
    "distinct prices, then one equi-join back. No stage sorts more "
    "than one price bucket; the bucket width is the skew knob.",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
             epoch_us(o_orderdate) AS d
      FROM orders
    ),
    pg AS (SELECT pc, MAX(d) AS pm FROM o GROUP BY pc),
    rg AS (
      SELECT pc,
             MAX(pm) OVER (ORDER BY pc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS thr
      FROM pg
    )
    SELECT o.o_orderkey, orders.o_totalprice, orders.o_orderdate
    FROM o JOIN rg USING (pc)
           JOIN orders ON orders.o_orderkey = o.o_orderkey
    WHERE o.d >= COALESCE(rg.thr, -1)
    """,
)
def q_skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("pc"),
        F.unix_micros(F.col("o_orderdate")).alias("d"),
    )
    # phase 1: per distinct price max date, coarse-bucketed
    pg = o.groupBy("pc").agg(F.max("d").alias("pm"))
    pg = pg.withColumn("bkt", F.expr(f"pc DIV {_SKY_BUCKET_CENTS}"))
    # bounded bucket table: price-range / $10k buckets
    bt = pg.groupBy("bkt").agg(F.max("pm").alias("bmax"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bt = bt.select("bkt", F.max("bmax").over(wb).alias("boff"))
    # phase 2: running max over distinct prices INSIDE each bucket
    wi = Window.partitionBy("bkt").orderBy("pc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rg = (
        pg.join(F.broadcast(bt), "bkt")
        .select(
            "pc",
            F.greatest(
                F.coalesce(F.max("pm").over(wi), F.lit(-1)),
                F.coalesce(F.col("boff"), F.lit(-1)),
            ).alias("thr"),
        )
    )
    return (
        o.join(rg, "pc")
        .filter(F.col("d") >= F.col("thr"))
        .join(orders, "o_orderkey")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (hour-of-week baseline, MAE)
# ---------------------------------------------------------------------------

_SEAS_SPLIT = "2024-01-24 00:00:00"


@register(
    "seasonal_baseline_mae",
    "Seasonal-naive forecast eval: the (ISO weekday × hour) mean event "
    "value learned on the train window (ts < Jan 24) is scored on the "
    "holdout week by MAE — the baseline every real forecaster must "
    "beat, and the sanity gate for value-stream drift. Exact fixed "
    "point: cent-quantized values, per-slot mean as millicents "
    "(sum·1000 DIV n), absolute errors summed as integers, one DIV for "
    "the MAE. Two grouped-agg shuffles (train slots, test errors) and "
    "a broadcast of the ≤168-row baseline table.",
    f"""
    WITH ev AS (
      SELECT isodow(ts) AS dow, CAST(hour(ts) AS INTEGER) AS hr,
             CAST(round(value * 100) AS BIGINT) AS vc,
             ts < TIMESTAMP '{_SEAS_SPLIT}' AS is_train
      FROM events
    ),
    base AS (
      SELECT dow, hr, CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(vc) * 1000 // COUNT(*) AS BIGINT) AS mean_fp
      FROM ev WHERE is_train GROUP BY dow, hr
    ),
    test AS (SELECT dow, hr, vc FROM ev WHERE NOT is_train)
    SELECT CAST(base.dow AS INTEGER) AS dow, base.hr, base.n_train,
           CAST(COUNT(*) AS BIGINT) AS n_test, base.mean_fp,
           CAST(SUM(abs(test.vc * 1000 - base.mean_fp)) // COUNT(*) AS BIGINT)
             AS mae_fp
    FROM test JOIN base ON test.dow = base.dow AND test.hr = base.hr
    GROUP BY base.dow, base.hr, base.n_train, base.mean_fp
    """,
)
def q_seasonal_baseline_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        (F.col("ts") < F.lit(_SEAS_SPLIT).cast("timestamp")).alias("is_train"),
    )
    base = (
        ev.filter("is_train")
        .groupBy("dow", "hr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.expr("CAST(SUM(vc) * 1000 DIV COUNT(*) AS BIGINT)").alias("mean_fp"),
        )
    )
    test = ev.filter(~F.col("is_train")).select("dow", "hr", "vc")
    return (
        test.join(F.broadcast(base), ["dow", "hr"])
        .groupBy("dow", "hr", "n_train", "mean_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.expr(
                "CAST(SUM(abs(vc * 1000 - mean_fp)) DIV COUNT(*) AS BIGINT)"
            ).alias("mae_fp"),
        )
        .select("dow", "hr", "n_train", "n_test", "mean_fp", "mae_fp")
    )


# ---------------------------------------------------------------------------
# Exact substring-run dedup (cross-document repeated token spans)
# ---------------------------------------------------------------------------

_SSR_W = 8  # token-window width of a positional shingle
_SSR_MAX_DF = 8  # document-frequency cap per shingle hash
_SSR_MIN_RUN = 16  # report pairs sharing a run of >= this many tokens


@register(
    "dedup_substring_runs",
    "Exact repeated-substring detection across documents (the "
    "suffix-array dedup of Lee et al. 2022 re-expressed relationally): "
    "positional 8-token shingles join on their hash, matching positions "
    "collapse along anti-diagonals (pos_a − pos_b) via gaps-and-islands, "
    "and each island of c consecutive windows is a shared run of c+7 "
    "tokens. Pairs sharing a run ≥ 16 tokens are verbatim-copy "
    "suspects that Jaccard-style whole-doc dedup misses. Scale: "
    "candidate generation is an equi-join on the shingle hash with a "
    "document-frequency cap (df ≤ 8 — boilerplate shingles carry no "
    "copy signal), fan-out per shingle is bounded by df² · in-doc "
    "multiplicity; the island window partitions by (pair, diagonal), "
    "bounded by document length, never by corpus size.",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(range(0, len(t) - {_SSR_W - 1})) AS pos, t
      FROM tk WHERE len(t) >= {_SSR_W}
    ),
    sh AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(
                 t[pos + 1 : pos + {_SSR_W}], ' ')), 1, 15))::BIGINT AS h
      FROM g
    ),
    okh AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY h
      ) WHERE df <= {_SSR_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      JOIN okh ON okh.h = a.h
    ),
    isl AS (
      SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
             ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
                                ORDER BY pos_a) AS rn
      FROM pairs
    ),
    runs AS (
      SELECT id_a, id_b, CAST(COUNT(*) + {_SSR_W - 1} AS BIGINT) AS run_tokens
      FROM isl GROUP BY id_a, id_b, diag, pos_a - rn
    )
    SELECT id_a, id_b, CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens,
           CAST(SUM(CASE WHEN run_tokens >= {_SSR_MIN_RUN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_long_runs
    FROM runs GROUP BY id_a, id_b HAVING MAX(run_tokens) >= {_SSR_MIN_RUN}
    """,
)
def q_dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import text as text_ops
    from etl_seattle_call_data_spark.operators.util import memo

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", text_ops.tokens("text").alias("t")
    ).filter(F.size("t") >= _SSR_W)
    # The positional shingle-hash table feeds THREE consumers (the df
    # cap + both sides of the pair join) — persist it once per corpus
    # per session or the tokenize+explode+md5 prefix executes per
    # branch. Positional (pos, hash) rows are this query's own shape;
    # the set-semantics "doc_shingles" cache can't serve it.
    sh = memo(
        "ssr_pos_shingles",
        lambda: d.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {_SSR_W}), i -> "
                    f"named_struct('pos', i, 'gram', array_join(slice(t, i + 1, {_SSR_W}), ' ')))"
                )
            ).alias("s"),
        ).select(
            "doc_id",
            F.col("s.pos").alias("pos"),
            F.conv(F.substring(F.md5(F.col("s.gram")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        ),
    )
    okh = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= _SSR_MAX_DF)
        .select("h")
    )
    # r11: capped feeds BOTH arms of the positional pair join — without a
    # barrier the df-cap aggregate + semi-join re-evaluates once per arm
    # (the cached sh bounds that at 2x the cap join, but the join itself
    # is hash-heavy). The checkpoint runs it once.
    capped = checkpoint(sh.join(okh, "h"))
    a = capped.select(
        F.col("h"), F.col("doc_id").alias("id_a"), F.col("pos").alias("pos_a")
    )
    b = capped.select(
        F.col("h").alias("hb"), F.col("doc_id").alias("id_b"), F.col("pos").alias("pos_b")
    )
    pairs = a.join(b, (a.h == b.hb) & (F.col("id_a") < F.col("id_b"))).select(
        "id_a", "id_b", "pos_a", "pos_b", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = (
        pairs.withColumn("rn", F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", (F.col("pos_a") - F.col("rn")).alias("isl"))
        .agg((F.count(F.lit(1)) + (_SSR_W - 1)).cast("bigint").alias("run_tokens"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.max("run_tokens").cast("bigint").alias("max_run_tokens"),
            F.sum(F.when(F.col("run_tokens") >= _SSR_MIN_RUN, 1).otherwise(0))
            .cast("bigint")
            .alias("n_long_runs"),
        )
        .filter(F.col("max_run_tokens") >= _SSR_MIN_RUN)
    )


# ---------------------------------------------------------------------------
# BM25 ranking with a log-free odds idf (fixed point)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "spark")


@register(
    "bm25_rank_fixed_query",
    "BM25 document ranking for a fixed query (k1=1.2, b=0.75) with a "
    "log-free odds idf (N·1000 DIV df − 1000 ≈ 1000·(N−df)/df, the "
    "monotone surrogate rule 4 prescribes instead of libm log) — all "
    "term/length normalization in fixed point, so the ranking is "
    "bit-identical on any engine and partitioning. One explode+agg "
    "shuffle builds (doc, term) tfs for the ≤|query| matched terms, "
    "the per-term df table is query-sized and broadcast, and the "
    "top-20 is TakeOrdered with doc_id tie-break (rule 20) — no "
    "global sort, no UDF.",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tk),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) * 1000 // COUNT(*) AS BIGINT) AS avgdl_fp3
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM tk)
      WHERE tok IN ('join', 'vector', 'spark')
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             CAST(SUM(
               ((n.n_docs * 1000 // df.df) - 1000)
               * ((tf.tf * 2200 * 1000000)
                  // (tf.tf * 1000
                      + (1200 * (250 + (750 * (dl.dl * 1000000 // n.avgdl_fp3))
                                       // 1000)) // 1000))
               // 1000
             ) AS BIGINT) AS score_fp
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN n
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score_fp FROM scored
    ORDER BY score_fp DESC, doc_id LIMIT 20
    """,
)
def q_bm25_rank_fixed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", text_ops.tokens("text").alias("t"))
    dl = tk.select("doc_id", F.size("t").cast("bigint").alias("dl"))
    n = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(dl) * 1000 DIV COUNT(*) AS BIGINT)").alias("avgdl_fp3"),
    )
    tf = (
        tk.select("doc_id", F.explode("t").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .transform(lambda d: dq.scalar_join(d, n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "((n_docs * 1000 DIV df) - 1000)"
                    " * ((tf * 2200 * 1000000)"
                    "    DIV (tf * 1000"
                    "         + (1200 * (250 + (750 * (dl * 1000000 DIV avgdl_fp3))"
                    "                          DIV 1000)) DIV 1000))"
                    " DIV 1000"
                )
            )
            .cast("bigint")
            .alias("score_fp")
        )
    )
    return scored.orderBy(F.desc("score_fp"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# Matryoshka (truncated-dimension) retrieval quality
# ---------------------------------------------------------------------------


@register(
    "embedding_matryoshka_recall",
    "Matryoshka-representation eval: recall@5 of top-k retrieval using "
    "only the first 32 of 64 embedding dimensions vs the full-rank "
    "exact top-5 (Kusupati et al. 2022 — truncating the prefix is the "
    "standard storage/latency lever for embedding indexes; this query "
    "measures exactly what that truncation costs on THIS corpus before "
    "anyone flips the switch at 100 TB, where half the dimensions is "
    "half the scan bytes). Both rankings are integer-quantized exact "
    "cosine (rule 9) over a broadcast query set vs streamed corpus; "
    "the per-query recall is one tiny join of two 5-row-per-query "
    "rank tables.",
    f"""
    WITH w AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    wf AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      FROM w
    ),
    wt AS (
      SELECT vec_id, qv[1:32] AS qv,
             CAST(list_sum(list_transform(qv[1:32], x -> x * x)) AS BIGINT) AS n2
      FROM w
    ),
    rf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                               i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                          / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) DESC, a.vec_id) AS rank
        FROM wf a JOIN wf b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    rt AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                               i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                          / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) DESC, a.vec_id) AS rank
        FROM wt a JOIN wt b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    hit AS (
      SELECT rf.query_id, CAST(COUNT(rt.neighbor_id) AS BIGINT) AS n_overlap
      FROM rf LEFT JOIN rt
        ON rf.query_id = rt.query_id AND rf.neighbor_id = rt.neighbor_id
      GROUP BY rf.query_id
    )
    SELECT query_id, n_overlap,
           CAST(n_overlap * 200000 AS BIGINT) AS recall_fp
    FROM hit
    """,
)
def q_embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    full = similarity.cosine_topk(emb, queries, k=5)
    emb32 = emb.withColumn("embedding", F.slice("embedding", 1, 32))
    q32 = queries.withColumn("embedding", F.slice("embedding", 1, 32))
    trunc = similarity.cosine_topk(emb32, q32, k=5).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    hit = (
        full.join(
            trunc,
            (full.query_id == trunc.tq) & (full.neighbor_id == trunc.tn),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tn").cast("bigint").alias("n_overlap"))
    )
    return hit.select(
        "query_id",
        "n_overlap",
        (F.col("n_overlap") * 200000).cast("bigint").alias("recall_fp"),
    )


# ---------------------------------------------------------------------------
# Graph partition quality: modularity of the brand partition
# ---------------------------------------------------------------------------


@register(
    "community_modularity",
    "Newman modularity of the part-brand partition over the co-purchase "
    "graph: Q = Σ_c (intra_c/m − (deg_c/2m)²), in fixed point "
    "(intra·10⁶ DIV m and (deg·10³ DIV 2m)² — both bounded by "
    "construction, rule 4). The partition-quality score every "
    "community-detection job needs as its objective/stopping metric. "
    "Edges come from the memoized basket pair table (one bounded "
    "self-join per session, shared with the PageRank/triangle family); "
    "ONE fact-scale pass rolls the brand-labeled edges up to a "
    "persisted |brands|² pair table, from which m, intra, and the "
    "unpivoted endpoint degrees all derive — no per-node state on the "
    "driver.",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    lab AS (
      SELECT e.pa, e.pb, x.p_brand AS ba, y.p_brand AS bb
      FROM edges e JOIN part x ON e.pa = x.p_partkey
                   JOIN part y ON e.pb = y.p_partkey
    ),
    intra AS (
      SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS intra_edges
      FROM lab WHERE ba = bb GROUP BY ba
    ),
    deg AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT ba AS brand FROM lab UNION ALL SELECT bb FROM lab
      ) GROUP BY brand
    )
    SELECT deg.brand, COALESCE(intra.intra_edges, 0) AS intra_edges, deg.degree,
           CAST(COALESCE(intra.intra_edges, 0) * 1000000 // m.m
                - (deg.degree * 1000 // (2 * m.m))
                  * (deg.degree * 1000 // (2 * m.m)) AS BIGINT) AS q_contrib_fp
    FROM deg LEFT JOIN intra ON deg.brand = intra.brand CROSS JOIN m
    """,
)
def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.util import memo
    from etl_seattle_call_data_spark.plans.shared import memo_copurchase_pairs

    edges = memo_copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lab = (
        edges.join(part.select(F.col("p_partkey").alias("pa"), F.col("p_brand").alias("ba")), "pa")
        .join(part.select(F.col("p_partkey").alias("pb"), F.col("p_brand").alias("bb")), "pb")
    )
    # one fact-scale pass: roll the labeled edge stream up to brand-pair
    # counts (bounded by |brands|² ≈ 625 rows), persisted because m /
    # intra / degree below are four plan references — without the swap
    # each would re-scan the labeled edges
    bp = memo(
        "modularity_brand_pairs",
        lambda: lab.groupBy("ba", "bb").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
    )
    m = bp.agg(F.sum("n").cast("bigint").alias("m"))
    intra = (
        bp.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.sum("n").cast("bigint").alias("intra_edges"))
    )
    deg = (
        bp.select(F.col("ba").alias("brand"), "n")
        .unionAll(bp.select(F.col("bb").alias("brand"), "n"))
        .groupBy("brand")
        .agg(F.sum("n").cast("bigint").alias("degree"))
    )
    out = (
        deg.join(intra, "brand", "left")
        .withColumn("intra_edges", F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint"))
        .transform(lambda d: dq.scalar_join(d, m))
    )
    return out.select(
        "brand",
        "intra_edges",
        "degree",
        F.expr(
            "CAST(intra_edges * 1000000 DIV m"
            " - (degree * 1000 DIV (2 * m)) * (degree * 1000 DIV (2 * m)) AS BIGINT)"
        ).alias("q_contrib_fp"),
    )


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence pattern matching over event strings
# ---------------------------------------------------------------------------


@register(
    "event_sequence_regex",
    "MATCH_RECOGNIZE-lite: each user-day's event stream collapses to a "
    "character string (v/c/p/s/e in exact (ts, event_id) order — "
    "sort_array over structs, rule 21) and a regex finds the "
    "view⁺→click⁺→purchase motif as a CONTIGUOUS run — the "
    "row-pattern-matching operator warehouses bolt on, expressed as "
    "collect+regex so the engine's native codegen handles it. Group "
    "sizes are bounded by per-user-day activity (a hot key is one "
    "day of one user, never the corpus); the regex is a narrow map "
    "over the ~|users|·|days| session table.",
    """
    SELECT user_id, CAST(day AS TIMESTAMP) AS day, seq FROM (
      SELECT user_id, date_trunc('day', ts) AS day,
             string_agg(CASE event_type
                          WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                          ELSE 'e' END, '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ) WHERE regexp_matches(seq, 'v+c+p')
    """,
)
def q_event_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    g = (
        ev.select(
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
            F.struct(F.col("ts"), F.col("event_id"), ch.alias("ch")).alias("s"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("s")), lambda s: s.getField("ch")
                ),
                "",
            ).alias("seq")
        )
    )
    return g.filter(F.col("seq").rlike("v+c+p")).select("user_id", "day", "seq")


# ---------------------------------------------------------------------------
# CUSUM change-point scan over the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint_daily",
    "CUSUM change-point scan: S_t = Σ_{i≤t}(x_i·n − total) over the "
    "daily revenue series (scaled by n_days so every term is an exact "
    "integer — no mean division inside the sum), argmax |S_t| marks "
    "the most likely level-shift day; top-5 reported with day "
    "tie-break. The cumulative window runs over the BOUNDED day table "
    "(horizon days, the documented bounded-window contract) — the "
    "fact scan is one grouped-agg shuffle; cents stay exact via the "
    "DECIMAL cast and the scaled sums stay under 2^63 (n_days·total "
    "< 10¹⁷ at sf100).",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(rev) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily
    ),
    cu AS (
      SELECT day, rev,
             CAST(SUM(rev * nd - total) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cusum_scaled
      FROM daily CROSS JOIN tot
    )
    SELECT day, rev, cusum_scaled FROM cu
    ORDER BY abs(cusum_scaled) DESC, day LIMIT 5
    """,
)
def q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    tot = daily.agg(
        F.sum("rev").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    # cumulative window over the bounded day table (horizon days)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cu = dq.scalar_join(daily, tot).withColumn(
        "cusum_scaled",
        F.sum(F.col("rev") * F.col("nd") - F.col("total")).over(w).cast("bigint"),
    )
    return (
        cu.select("day", "rev", "cusum_scaled")
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# KMV sketch set operations (union / intersection estimates), measured
# ---------------------------------------------------------------------------

_KSO_K = 64


@register(
    "kmv_set_ops_eval",
    "Sketch set-algebra eval: KMV (bottom-k) sketches of the click-user "
    "and purchase-user sets compose into union and intersection "
    "cardinality ESTIMATES — union by merging bottom-k sets (the KMV "
    "monoid), intersection via the Jaccard fraction of the merged "
    "sketch that lands in both sides (Beyer et al. 2007) — and both "
    "are measured against exact distinct counts in fixed point. This "
    "is the pattern that answers audience-overlap questions at 100 TB "
    "from two k-row sketches instead of a fact-table join; the "
    "bottom-k itself is TakeOrdered (per-partition heads + k-row "
    "driver merge), and all estimator math is integer (52-bit md5 "
    "hashes, DIV — no harmonic means, rule 4).",
    f"""
    WITH ua AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM events WHERE event_type = 'click'
    ),
    ub AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      FROM events WHERE event_type = 'purchase'
    ),
    ka AS (SELECT h FROM ua ORDER BY h LIMIT {_KSO_K}),
    kb AS (SELECT h FROM ub ORDER BY h LIMIT {_KSO_K}),
    ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
           ORDER BY h LIMIT {_KSO_K}),
    kstat AS (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS k_used FROM ku),
    rho AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM ku
      JOIN ka ON ku.h = ka.h JOIN kb ON ku.h = kb.h
    ),
    ex AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT h FROM ua UNION SELECT h FROM ub)) AS exact_union,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM ua JOIN ub ON ua.h = ub.h) AS exact_inter
    )
    SELECT exact_union, exact_inter, k_used,
           CAST(CASE WHEN k_used < {_KSO_K} THEN exact_union
                ELSE ({_KSO_K} - 1) * 4503599627370496 // hk END AS BIGINT)
             AS est_union,
           CAST(n_both * (CASE WHEN k_used < {_KSO_K} THEN exact_union
                          ELSE ({_KSO_K} - 1) * 4503599627370496 // hk END)
                // NULLIF(k_used, 0) AS BIGINT) AS est_inter,
           CAST(COALESCE((n_both * (CASE WHEN k_used < {_KSO_K} THEN exact_union
                           ELSE ({_KSO_K} - 1) * 4503599627370496 // hk END)
                          // NULLIF(k_used, 0) - exact_inter) * 1000000
                         // NULLIF(exact_inter, 0), 0) AS BIGINT)
             AS inter_err_fp
    FROM ex CROSS JOIN kstat CROSS JOIN rho
    """,
)
def q_kmv_set_ops_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def uset(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select(
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
                .cast("long")
                .alias("h")
            )
            .distinct()
        )

    ua, ub = uset("click"), uset("purchase")
    ka = ua.orderBy("h").limit(_KSO_K)
    kb = ub.orderBy("h").limit(_KSO_K)
    ku = ka.union(kb).distinct().orderBy("h").limit(_KSO_K)
    kstat = ku.agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).cast("bigint").alias("k_used")
    )
    rho = (
        ku.join(ka.withColumnRenamed("h", "h"), "h")
        .join(kb, "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ex = dq.scalar_join(
        ua.union(ub).distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_union")
        ),
        ua.join(ub, "h").agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter")),
    )
    est = (
        f"CASE WHEN k_used < {_KSO_K} THEN exact_union"
        f" ELSE ({_KSO_K} - 1) * 4503599627370496 DIV hk END"
    )
    return dq.scalar_join(ex, kstat, rho).select(
        "exact_union",
        "exact_inter",
        "k_used",
        F.expr(f"CAST({est} AS BIGINT)").alias("est_union"),
        # NULLIF guard (rule 40): both user sets empty -> k_used = 0
        F.expr(
            f"CAST(n_both * ({est}) DIV NULLIF(k_used, 0) AS BIGINT)"
        ).alias("est_inter"),
        F.expr(
            f"CAST(COALESCE((n_both * ({est}) DIV NULLIF(k_used, 0)"
            f" - exact_inter) * 1000000"
            f" DIV NULLIF(exact_inter, 0), 0) AS BIGINT)"
        ).alias("inter_err_fp"),
    )


# ---------------------------------------------------------------------------
# Column value-distribution profiling (mode, min-entropy) via unpivot
# ---------------------------------------------------------------------------


@register(
    "profile_column_distributions",
    "Value-distribution profile per categorical column (status, "
    "priority, order month): exact distinct count, deterministic mode "
    "(highest count, ties broken by MAX value — no composite arg_max, "
    "rule 23), mode frequency, and min-entropy −log2(p_max) in whole "
    "bits via the log-free length(bin(n DIV mode_n))−1 idiom "
    "(zipf_bitlength precedent). The complement to profile_orders' "
    "null/min-max scan: this is the skew/anonymity side of profiling. "
    "One unpivoted scan → one grouped count per (col, value) — value "
    "cardinality-sized, not row-sized — then a |cols|-row rollup.",
    """
    WITH u AS (
      SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'o_month', CAST(month(o_orderdate) AS VARCHAR) FROM orders
    ),
    vc AS (
      SELECT col, val, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY col, val
    ),
    agg AS (
      SELECT col, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS mode_n
      FROM vc GROUP BY col
    )
    SELECT agg.col, agg.n_distinct,
           MAX(CASE WHEN vc.cnt = agg.mode_n THEN vc.val END) AS mode_val,
           agg.mode_n,
           CAST(length(bin(agg.n_rows // agg.mode_n)) - 1 AS INTEGER)
             AS min_entropy_bits
    FROM agg JOIN vc ON agg.col = vc.col
    GROUP BY agg.col, agg.n_distinct, agg.mode_n, agg.n_rows
    """,
)
def q_profile_column_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    u = o.selectExpr(
        "stack(3, 'o_orderstatus', o_orderstatus,"
        " 'o_orderpriority', o_orderpriority,"
        " 'o_month', CAST(month(o_orderdate) AS STRING)) AS (col, val)"
    )
    vc = u.groupBy("col", "val").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    agg = vc.groupBy("col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("mode_n"),
    )
    return (
        agg.join(vc, "col")
        .groupBy("col", "n_distinct", "mode_n", "n_rows")
        .agg(
            F.max(F.when(F.col("cnt") == F.col("mode_n"), F.col("val"))).alias(
                "mode_val"
            )
        )
        .select(
            "col",
            "n_distinct",
            "mode_val",
            "mode_n",
            (F.length(F.bin(F.expr("n_rows DIV mode_n"))) - 1)
            .cast("int")
            .alias("min_entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Half-sample (delete-half jackknife) median stability
# ---------------------------------------------------------------------------


@register(
    "subsample_median_stability",
    "Estimator-stability check: 8 deterministic half-samples of orders "
    "(bit b of a 60-bit md5 key hash selects each half — overlapping "
    "balanced replicas, the poor man's bootstrap that needs no RNG "
    "state and reproduces on any engine/partitioning) and the exact "
    "interpolated median of each (rule 7: percentile ≡ quantile_cont "
    "bit-for-bit). The spread across replicas is the sampling-error "
    "bar a 100 TB report should ship with its point estimate. One "
    "8× narrow explode + one grouped percentile shuffle.",
    """
    WITH h AS (
      SELECT o_totalprice,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM orders
    ),
    r AS (SELECT unnest(range(0, 8)) AS b)
    SELECT CAST(b AS INTEGER) AS b, CAST(COUNT(*) AS BIGINT) AS n_rows,
           quantile_cont(o_totalprice, 0.5) AS median_price
    FROM h CROSS JOIN r
    WHERE ((hv >> b) & 1) = 1
    GROUP BY b
    """,
)
def q_subsample_median_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = o.select(
        "o_totalprice",
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    return (
        h.select(
            "o_totalprice",
            "hv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("b"),
        )
        .filter(F.expr("((hv >> b) & 1) = 1"))
        .groupBy(F.col("b").cast("int").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
        )
    )


# ---------------------------------------------------------------------------
# Conversion survival curve (first exposure -> first purchase)
# ---------------------------------------------------------------------------

_SURV_HORIZONS = (60, 600, 3600, 86400, 604800)


@register(
    "conversion_survival_curve",
    "Time-to-convert survival curve: per user, latency from FIRST view "
    "to FIRST purchase (exact microsecond difference, rule 11), then "
    "for each horizon in {1m, 10m, 1h, 1d, 7d} the share of converting "
    "users still unconverted at that horizon — the empirical survival "
    "function S(h), all counting + one fixed-point ratio per horizon "
    "(no Kaplan-Meier products, which would need libm). Two grouped "
    "min-aggregations and a 5× explode of the per-user latency table; "
    "output is |horizons| rows.",
    f"""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    fp AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    lat AS (
      SELECT (epoch_us(t1) - epoch_us(t0)) // 1000000 AS lat_s
      FROM fv JOIN fp USING (user_id)
      WHERE t1 >= t0
    )
    SELECT horizon_s, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN lat_s > horizon_s THEN 1 ELSE 0 END) AS BIGINT)
             AS n_surviving,
           CAST(SUM(CASE WHEN lat_s > horizon_s THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS survival_fp
    FROM lat CROSS JOIN (SELECT unnest({list(_SURV_HORIZONS)}) AS horizon_s)
    GROUP BY horizon_s
    """,
)
def q_conversion_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(etype: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.min("ts").alias(alias))
        )

    lat = (
        first_ts("view", "t0")
        .join(first_ts("purchase", "t1"), "user_id")
        .filter(F.col("t1") >= F.col("t0"))
        .select(
            F.expr("(unix_micros(t1) - unix_micros(t0)) DIV 1000000").alias("lat_s")
        )
    )
    horizons = F.array(*[F.lit(h) for h in _SURV_HORIZONS])
    return (
        lat.select("lat_s", F.explode(horizons).alias("horizon_s"))
        .groupBy("horizon_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.when(F.col("lat_s") > F.col("horizon_s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_surviving"),
        )
        .withColumn(
            "survival_fp",
            F.expr("CAST(n_surviving * 1000000 DIV n_users AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: per-user consecutive-active-day streaks
# ---------------------------------------------------------------------------


@register(
    "user_activity_streaks",
    "Per-user activity streaks via gaps-and-islands: distinct active "
    "days → day-number minus row-number collapses each consecutive run "
    "to one island key (the classic streak idiom) → per-user longest "
    "streak, island count, active-day count. The window partitions by "
    "user and is bounded by that user's active days (≤ horizon days), "
    "never by corpus size; day numbers come from datediff against a "
    "fixed epoch so both engines count identical integers.",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
      FROM events
    ),
    isl AS (
      SELECT user_id, dn,
             dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS grp
      FROM d
    ),
    runs AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak
    FROM runs GROUP BY user_id
    """,
)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "dn"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dn")
    runs = (
        d.withColumn("grp", F.col("dn") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("max_streak"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery (g3 violation measure)
# ---------------------------------------------------------------------------


@register(
    "functional_dependency_check",
    "Approximate functional-dependency discovery: for each candidate "
    "X→Y the number of determinant groups, the groups where Y is not "
    "unique, and the g3 measure (minimum rows to delete for the FD to "
    "hold = Σ_X (group size − mode Y count) — Kivinen & Mannila's "
    "standard approximation metric). Each candidate is one grouped "
    "count on (X, Y) — value-pair-sized — rolled up to one row; the "
    "profiler that tells a schema designer which constraints the data "
    "actually supports before they bet a 100 TB layout on them.",
    """
    WITH c1 AS (
      SELECT p_brand AS x, p_type AS y FROM part
    ), c2 AS (
      SELECT p_type AS x, p_brand AS y FROM part
    ), c3 AS (
      SELECT CAST(l_partkey AS VARCHAR) AS x, CAST(l_suppkey AS VARCHAR) AS y
      FROM lineitem
    ), c4 AS (
      SELECT CAST(o_orderdate AS VARCHAR) AS x, o_orderpriority AS y FROM orders
    ),
    u AS (
      SELECT 'p_brand->p_type' AS fd, x, y FROM c1
      UNION ALL SELECT 'p_type->p_brand', x, y FROM c2
      UNION ALL SELECT 'l_partkey->l_suppkey', x, y FROM c3
      UNION ALL SELECT 'o_orderdate->o_orderpriority', x, y FROM c4
    ),
    xy AS (
      SELECT fd, x, y, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY fd, x, y
    ),
    gx AS (
      SELECT fd, x, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(MAX(cnt) AS BIGINT) AS mode_cnt,
             CAST(COUNT(*) AS BIGINT) AS n_y
      FROM xy GROUP BY fd, x
    )
    SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(total - mode_cnt) AS BIGINT) AS g3_rows
    FROM gx GROUP BY fd
    """,
)
def q_functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cands = [
        ("p_brand->p_type", part.select(F.col("p_brand").alias("x"), F.col("p_type").alias("y"))),
        ("p_type->p_brand", part.select(F.col("p_type").alias("x"), F.col("p_brand").alias("y"))),
        (
            "l_partkey->l_suppkey",
            li.select(
                F.col("l_partkey").cast("string").alias("x"),
                F.col("l_suppkey").cast("string").alias("y"),
            ),
        ),
        (
            "o_orderdate->o_orderpriority",
            o.select(
                F.col("o_orderdate").cast("string").alias("x"),
                F.col("o_orderpriority").alias("y"),
            ),
        ),
    ]
    u = None
    for fd, df in cands:
        tagged = df.select(F.lit(fd).alias("fd"), "x", "y")
        u = tagged if u is None else u.unionByName(tagged)
    xy = u.groupBy("fd", "x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    gx = xy.groupBy("fd", "x").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.max("cnt").cast("bigint").alias("mode_cnt"),
        F.count(F.lit(1)).cast("bigint").alias("n_y"),
    )
    return gx.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_y") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(F.col("total") - F.col("mode_cnt")).cast("bigint").alias("g3_rows"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of join within tolerance (both directions)
# ---------------------------------------------------------------------------

_NEAR_TOL_US = 600_000_000  # ±10 minutes


@register(
    "asof_nearest_click_to_purchase",
    "Nearest as-of join: for each purchase, the user's closest click "
    "within ±10 minutes in EITHER direction (the asof 'nearest' "
    "semantics pandas.merge_asof offers and plain SQL lacks; the "
    "backward-only variant is asof_last_click_before_purchase). "
    "Scale plan: no inequality join ever touches the fact tables — "
    "purchases probe 3 tolerance-width time buckets via an equi-join "
    "(the banded range-join trick), so candidates per purchase are "
    "bounded by click density within ±1 bucket; rank by (|gap|, id) "
    "picks the winner. Unmatched purchases keep a −1 sentinel "
    "(NULL-free output, pandas BIGINT widening).",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us,
             epoch_us(ts) // {_NEAR_TOL_US} AS cb
      FROM events WHERE event_type = 'click'
    ),
    probe AS (
      SELECT purchase_id, user_id, p_us,
             p_us // {_NEAR_TOL_US} + unnest([-1, 0, 1]) AS b
      FROM p
    ),
    cand AS (
      SELECT probe.purchase_id, probe.user_id, probe.p_us, c.click_id,
             p_us - c_us AS gap_us,
             ROW_NUMBER() OVER (PARTITION BY probe.purchase_id
                                ORDER BY abs(p_us - c_us), c.click_id) AS rn
      FROM probe JOIN c ON c.user_id = probe.user_id AND c.cb = probe.b
      WHERE abs(p_us - c_us) <= {_NEAR_TOL_US}
    ),
    best AS (SELECT purchase_id, click_id, gap_us FROM cand WHERE rn = 1)
    SELECT p.purchase_id, p.user_id,
           COALESCE(best.click_id, -1) AS click_id,
           COALESCE(best.gap_us, 0) AS gap_us
    FROM p LEFT JOIN best ON p.purchase_id = best.purchase_id
    """,
)
def q_asof_nearest_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
        F.expr(f"unix_micros(ts) DIV {_NEAR_TOL_US}").alias("cb"),
    )
    probe = p.select(
        "purchase_id",
        "user_id",
        "p_us",
        F.explode(
            F.array(
                F.expr(f"p_us DIV {_NEAR_TOL_US} - 1"),
                F.expr(f"p_us DIV {_NEAR_TOL_US}"),
                F.expr(f"p_us DIV {_NEAR_TOL_US} + 1"),
            )
        ).alias("b"),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.abs(F.col("p_us") - F.col("c_us")), "click_id"
    )
    best = (
        probe.join(c, (probe.user_id == c.c_user) & (probe.b == c.cb))
        .filter(F.abs(F.col("p_us") - F.col("c_us")) <= _NEAR_TOL_US)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("purchase_id").alias("bp"),
            "click_id",
            (F.col("p_us") - F.col("c_us")).alias("gap_us"),
        )
    )
    return p.join(best, p.purchase_id == best.bp, "left").select(
        "purchase_id",
        "user_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("bigint").alias("click_id"),
        F.coalesce(F.col("gap_us"), F.lit(0)).cast("bigint").alias("gap_us"),
    )
