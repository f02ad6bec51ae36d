"""Nineteenth-wave coverage: candidate-and-verify heavy hitters,
embedding similarity histograms, quantile-sketch error measurement,
Hodges-Lehmann and Mann-Kendall robust statistics, and semi-additive
balance rollups.

docs/CROSS_ENGINE.md rules throughout: exact integer counts/moments
with one shared IEEE tree (rules 1-2), discrete percentiles wherever a
quantile re-enters arithmetic (rule 7), quantized-embedding integer
dot products (rule 9), portable md5-prefix hash buckets, rule-20 total
orders, calendar-bounded windows documented per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Candidate-and-verify exact heavy hitters (space-saving style)
# ---------------------------------------------------------------------------

_HH_SHARDS = 32
_HH_PER_SHARD = 20
_HH_TOPK = 10


@register(
    "heavy_hitters_candidate_verify",
    "Candidate-and-verify heavy hitters: each of 32 deterministic "
    "shards (l_orderkey % 32 — the partition stand-in) nominates its "
    "local top-20 part keys, the candidate union is exactly "
    "re-counted (semi-join — only candidates touch the second pass), "
    "and the result is audited against the TRUE top-10: per true "
    "heavy hitter, was it nominated? This is the mergeable-summary "
    "top-k pattern (Misra-Gries/space-saving shape) with its recall "
    "MEASURED rather than assumed — the companion to the CMS point "
    "estimates (heavy_hitters_cms). All exact integers; ranks use "
    "the (count DESC, partkey) total order (rule 20). Scale: two "
    "grouped aggregates + one bounded candidate semi-join; the "
    "driver never sees per-key state.",
    f"""
    WITH shard AS (
      SELECT l_orderkey % {_HH_SHARDS} AS sh, l_partkey AS pk,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    nominated AS (
      SELECT DISTINCT pk FROM (
        SELECT pk, ROW_NUMBER() OVER (PARTITION BY sh
                 ORDER BY cnt DESC, pk) AS r
        FROM shard
      ) WHERE r <= {_HH_PER_SHARD}
    )
    SELECT CAST(t.true_rank AS BIGINT) AS true_rank, t.pk AS partkey,
           t.n_rows,
           n.pk IS NOT NULL AS in_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nominated) AS n_candidates
    FROM (SELECT pk, n_rows, true_rank FROM (
            SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_partkey)
                     AS true_rank
            FROM lineitem GROUP BY l_partkey
          ) WHERE true_rank <= {_HH_TOPK}) t
    LEFT JOIN nominated n ON n.pk = t.pk
    """,
)
def q_heavy_hitters_candidate_verify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    shard = li.groupBy(
        (F.col("l_orderkey") % _HH_SHARDS).alias("sh"),
        F.col("l_partkey").alias("pk"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("sh").orderBy(F.col("cnt").desc(), "pk")
    nominated = (
        shard.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _HH_PER_SHARD)
        .select("pk")
        .distinct()
    )
    truth = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "pk")
        .limit(_HH_TOPK)
        .withColumn(
            "true_rank",
            F.row_number().over(Window.orderBy(F.col("n_rows").desc(), "pk")),
        )
    )
    ncand = nominated.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    return dq.scalar_join(
        truth.join(
            nominated.withColumn("hit", F.lit(True)), "pk", "left"
        ),
        ncand,
    ).select(
        F.col("true_rank").cast("bigint").alias("true_rank"),
        F.col("pk").alias("partkey"),
        "n_rows",
        F.col("hit").isNotNull().alias("in_candidates"),
        "n_candidates",
    )


# ---------------------------------------------------------------------------
# Embedding similarity histogram: same-label vs hash-bucket pairs
# ---------------------------------------------------------------------------

_ESH_MIN_BUCKETS = 64
_ESH_TARGET_BLOCK = 200


@register(
    "embedding_similarity_histogram",
    "Cosine-similarity DISTRIBUTION evidence for threshold "
    "calibration: the decile histogram (floor(cos*10) buckets) of "
    "two pair populations — same-label pairs (the blocked equi-join "
    "every dedup pass uses) vs pseudo-random pairs from a portable "
    "md5-hash bucket join whose bucket COUNT scales with corpus size "
    "(GREATEST(64, n/200) buckets, so expected membership stays ~200 "
    "and total pair fan-out is O(n*200), never corpus^2 — the "
    "deterministic stand-in for random sampling). Separation between "
    "the two histograms is what justifies a dedup threshold; recall "
    "evals (dedup_lsh_recall_eval) assume a threshold, this query "
    "shows WHERE to put it. Quantized integer dot products (rule 9), "
    "one exact IEEE division per cosine, floor to deciles (rule 5), "
    "share in truncated ppm (rule 4).",
    f"""
    WITH w AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv,
             CAST(list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
               AS BIGINT) AS n2,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
               % GREATEST({_ESH_MIN_BUCKETS},
                          (SELECT COUNT(*) FROM embeddings)
                            // {_ESH_TARGET_BLOCK}) AS hb
      FROM embeddings
    ),
    pairs AS (
      SELECT 'same_label' AS population,
             CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS DOUBLE)
               / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cosine
      FROM w a JOIN w b ON b.label = a.label AND b.vec_id > a.vec_id
      UNION ALL
      SELECT 'hash_bucket' AS population,
             CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS DOUBLE)
               / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cosine
      FROM w a JOIN w b ON b.hb = a.hb AND b.vec_id > a.vec_id
    ),
    h AS (
      SELECT population,
             CAST(floor(cosine * 10) AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY population, CAST(floor(cosine * 10) AS BIGINT)
    )
    SELECT population, decile, n_pairs,
           CAST(n_pairs * 1000000 //
                SUM(n_pairs) OVER (PARTITION BY population) AS BIGINT)
             AS share_ppm
    FROM h
    """,
)
def q_embedding_similarity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale story: the hash-bucket pair population is O(n), not O(n^2).

    Bucket count = max(64, n/200) grows linearly with the corpus, so
    expected bucket membership is a CONSTANT ~200 rows and total pair
    fan-out is ~n*100 — at 10x the data, 10x the buckets and 10x the
    pairs (round-8 review measured the old fixed-64 variant at x100
    pairs per decade: 31k -> 3.1M -> 312M across sf0.1/1/10; this
    bounds it). The single driver-side count() is a parquet-metadata
    scan, not a data collect. Same-label blocks were independently
    verified to stay ~200 rows at every SF (label cardinality scales
    with n).
    """
    from etl_seattle_call_data_spark.operators.similarity import with_quantized

    base = load_table(spark, sf_dir, "embeddings")
    n_buckets = max(_ESH_MIN_BUCKETS, base.count() // _ESH_TARGET_BLOCK)
    # r11: emb feeds FOUR plan branches (two populations x two self-join
    # arms) — un-materialized, the quantize projection (per-dim round +
    # dot-with-self + md5 bucket) re-runs once per branch (CLAUDE.md
    # multi-consumer rule; the subtree is hash-heavy, not a cheap scan).
    # The checkpoint evaluates it once; the four arms read blocks.
    emb = checkpoint(
        with_quantized(base)
        .withColumn(
            "hb",
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % F.lit(n_buckets),
        )
        .select("vec_id", "label", "hb", "qvec", "qnorm2")
    )

    def pop(on: str, name: str) -> DataFrame:
        a = emb.select(
            F.col(on).alias("k"),
            F.col("vec_id").alias("ia"),
            F.col("qvec").alias("va"),
            F.col("qnorm2").alias("na"),
        )
        b = emb.select(
            F.col(on).alias("k"),
            F.col("vec_id").alias("ib"),
            F.col("qvec").alias("vb"),
            F.col("qnorm2").alias("nb"),
        )
        cos = F.expr(
            "CAST(aggregate(zip_with(va, vb, (x, y) -> x * y), 0L,"
            " (acc, v) -> acc + v) AS DOUBLE)"
        ) / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
        return (
            a.join(b, "k")
            .filter(F.col("ib") > F.col("ia"))
            .select(F.lit(name).alias("population"), cos.alias("cosine"))
        )

    pairs = pop("label", "same_label").unionAll(pop("hb", "hash_bucket"))
    h = pairs.groupBy(
        "population", F.floor(F.col("cosine") * 10).cast("bigint").alias("decile")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    wp = Window.partitionBy("population")
    return h.select(
        "population",
        "decile",
        "n_pairs",
        F.expr(
            "CAST(n_pairs * 1000000 DIV"
            " SUM(n_pairs) OVER (PARTITION BY population) AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Quantile sketch (hash-sample) error measurement
# ---------------------------------------------------------------------------

_QSE_SAMPLE_PCT = 5
_QSE_TARGETS = [(500000, "p50"), (900000, "p90"), (990000, "p99")]


@register(
    "quantile_sketch_error_eval",
    "Sample-quantile sketch with MEASURED rank error: a portable "
    "5% md5-hash sample of lineitem prices plays the sketch, its "
    "discrete p50/p90/p99 are compared to the exact ones, and the "
    "achieved rank of each sample estimate (count of rows <= "
    "estimate, from ONE conditional-aggregate scan against the 3 "
    "broadcast scalars) is reported in ppm against the target rank "
    "— completing the sketch-eval family (KMV cardinality, CMS "
    "counts, Bloom membership: quantiles were the missing one). "
    "Discrete percentiles only (rule 7 — values re-enter integer "
    "comparisons), exact BIGINT counts, truncated-ppm ranks "
    "(rule 4). Scale: hash sampling is stateless per row, both "
    "quantile passes are single aggregates, no sort of the full "
    "data.",
    f"""
    WITH li AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
               AS VARCHAR)), 1, 15))::BIGINT % 100 AS hb
      FROM lineitem
    ),
    ex AS (
      SELECT quantile_disc(cents, 0.50) AS e50,
             quantile_disc(cents, 0.90) AS e90,
             quantile_disc(cents, 0.99) AS e99,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM li
    ),
    sm AS (
      SELECT quantile_disc(cents, 0.50) AS s50,
             quantile_disc(cents, 0.90) AS s90,
             quantile_disc(cents, 0.99) AS s99,
             CAST(COUNT(*) AS BIGINT) AS n_sample
      FROM li WHERE hb < {_QSE_SAMPLE_PCT}
    ),
    ranks AS (
      SELECT CAST(SUM(CASE WHEN li.cents <= sm.s50 THEN 1 ELSE 0 END)
               AS BIGINT) AS r50,
             CAST(SUM(CASE WHEN li.cents <= sm.s90 THEN 1 ELSE 0 END)
               AS BIGINT) AS r90,
             CAST(SUM(CASE WHEN li.cents <= sm.s99 THEN 1 ELSE 0 END)
               AS BIGINT) AS r99
      FROM li, sm
    )
    SELECT 'p50' AS quantile_label, CAST(500000 AS BIGINT) AS target_ppm,
           CAST(ex.e50 AS BIGINT) AS exact_cents, CAST(sm.s50 AS BIGINT) AS sample_cents,
           CAST(ranks.r50 * 1000000 // ex.n AS BIGINT) AS achieved_ppm,
           abs(CAST(ranks.r50 * 1000000 // ex.n AS BIGINT) - 500000)
             AS rank_error_ppm,
           sm.n_sample
    FROM ex, sm, ranks
    UNION ALL
    SELECT 'p90', CAST(900000 AS BIGINT), CAST(ex.e90 AS BIGINT), CAST(sm.s90 AS BIGINT),
           CAST(ranks.r90 * 1000000 // ex.n AS BIGINT),
           abs(CAST(ranks.r90 * 1000000 // ex.n AS BIGINT) - 900000),
           sm.n_sample
    FROM ex, sm, ranks
    UNION ALL
    SELECT 'p99', CAST(990000 AS BIGINT), CAST(ex.e99 AS BIGINT), CAST(sm.s99 AS BIGINT),
           CAST(ranks.r99 * 1000000 // ex.n AS BIGINT),
           abs(CAST(ranks.r99 * 1000000 // ex.n AS BIGINT) - 990000),
           sm.n_sample
    FROM ex, sm, ranks
    """,
)
def q_quantile_sketch_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
                            "string"
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("hb"),
    )
    ex = li.agg(
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)").alias("e50"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)").alias("e90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").alias("e99"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    sm = li.filter(F.col("hb") < _QSE_SAMPLE_PCT).agg(
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY cents)").alias("s50"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)").alias("s90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)").alias("s99"),
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
    )
    ranks = dq.scalar_join(li, sm).agg(
        F.sum(F.when(F.col("cents") <= F.col("s50"), 1).otherwise(0))
        .cast("bigint")
        .alias("r50"),
        F.sum(F.when(F.col("cents") <= F.col("s90"), 1).otherwise(0))
        .cast("bigint")
        .alias("r90"),
        F.sum(F.when(F.col("cents") <= F.col("s99"), 1).otherwise(0))
        .cast("bigint")
        .alias("r99"),
    )
    one = dq.scalar_join(ex, sm, ranks)
    rows = []
    for target, label in _QSE_TARGETS:
        suffix = label[1:]
        rows.append(
            one.select(
                F.lit(label).alias("quantile_label"),
                F.lit(target).cast("bigint").alias("target_ppm"),
                F.col(f"e{suffix}").cast("bigint").alias("exact_cents"),
                F.col(f"s{suffix}").cast("bigint").alias("sample_cents"),
                F.expr(f"CAST(r{suffix} * 1000000 DIV n AS BIGINT)").alias(
                    "achieved_ppm"
                ),
                F.expr(
                    f"abs(CAST(r{suffix} * 1000000 DIV n AS BIGINT) - {target})"
                ).alias("rank_error_ppm"),
                "n_sample",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Hodges-Lehmann pseudo-median of daily revenue
# ---------------------------------------------------------------------------


@register(
    "hodges_lehmann_daily",
    "Hodges-Lehmann pseudo-median of daily revenue: the median of "
    "all Walsh averages (x_i + x_j)/2 over day pairs i <= j — the "
    "rank-based location estimator (the one-sample Wilcoxon "
    "inverse) that is 2x more outlier-robust than the mean without "
    "the median's discreteness. Pair sums stay exact BIGINT cents "
    "(halving deferred to the final division so no .5 ever "
    "materializes); the pair table is CALENDAR-bounded (~2.9M rows "
    "from ~2.4k days at any SF); median via discrete percentile "
    "(rule 7). Output includes the plain median for comparison.",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    walsh AS (
      SELECT a.rev + b.rev AS w2
      FROM daily a JOIN daily b ON b.day >= a.day
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_walsh_pairs,
           CAST(quantile_disc(w2, 0.5) AS DOUBLE) / 200.0
             AS hodges_lehmann_dollars,
           (SELECT CAST(quantile_disc(rev, 0.5) AS DOUBLE) / 100.0
            FROM daily) AS plain_median_dollars
    FROM walsh
    """,
)
def q_hodges_lehmann_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev")
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    walsh = a.join(b, F.col("db") >= F.col("da")).select(
        (F.col("ra") + F.col("rb")).alias("w2")
    )
    nd = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev)").cast(
                "double"
            )
            / 100.0
        ).alias("plain_median_dollars"),
    )
    wz = walsh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_walsh_pairs"),
        (
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY w2)").cast(
                "double"
            )
            / 200.0
        ).alias("hodges_lehmann_dollars"),
    )
    return dq.scalar_join(wz, nd).select(
        "n_days", "n_walsh_pairs", "hodges_lehmann_dollars", "plain_median_dollars"
    )


# ---------------------------------------------------------------------------
# Mann-Kendall monotone trend test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "mann_kendall_trend_daily",
    "Mann-Kendall monotone trend test on daily revenue: S = sum of "
    "sgn(x_j - x_i) over ordered day pairs, tie-corrected variance "
    "18*Var(S) = n(n-1)(2n+5) - sum t(t-1)(2t+5) over tied-value "
    "groups, and the continuity-corrected z = (S -/+ 1)/sqrt(var) — "
    "the standard distribution-free trend detector (environmental "
    "and ops telemetry canon), complementing Kendall tau (x vs y) "
    "by testing x vs TIME. Exact BIGINT pair counts and tie sums "
    "over the calendar-bounded day-pair join (~2.9M pairs at any "
    "SF); one shared IEEE tree for z (rules 2, 8).",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
               AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY rev)
      WHERE t > 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM daily)
    SELECT n.nd AS n_days, s.s_stat,
           CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5) - ties.tie_term
             AS BIGINT) AS var_num_18,
           (CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                 WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                 ELSE 0.0 END)
             / NULLIF(sqrt(CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5)
                    - ties.tie_term AS DOUBLE) / 18.0), 0) AS z_stat
    FROM s, ties, n
    """,
)
def q_mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev")
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    s = a.join(b, F.col("db") > F.col("da")).agg(
        F.sum(
            F.when(F.col("rb") > F.col("ra"), 1)
            .when(F.col("rb") < F.col("ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    return dq.scalar_join(s, ties, n).select(
        F.col("nd").alias("n_days"),
        "s_stat",
        F.expr(
            "CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term AS BIGINT)"
        ).alias("var_num_18"),
        F.expr(
            "(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
            " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
            " ELSE 0.0 END)"
            # NULLIF guard (rule 40): a 1-day series zeroes Var(S)
            " / NULLIF(sqrt(CAST(nd * (nd - 1) * (2 * nd + 5) - tie_term"
            " AS DOUBLE) / 18.0), 0)"
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Semi-additive month-end balance rollup
# ---------------------------------------------------------------------------


@register(
    "semi_additive_balance_monthly",
    "Semi-additive measure rollup — the balance-sheet aggregation "
    "pattern (SUM across accounts, LAST VALUE across time): monthly "
    "cumulative customer spend treated as an account balance, "
    "rolled to (month) grain with total book balance, customers "
    "active that month, and customers carrying a balance forward "
    "with no activity. Because a balance is a running sum of flows, "
    "the carry-forward collapses algebraically: total balance = "
    "running sum of monthly flows, carried = started-to-date minus "
    "active — no customer x month grid materializes (the naive "
    "LOCF grid is O(customers x months); this is O(months) after "
    "two grouped aggregates). Exact BIGINT cents; rule-19 integer "
    "year/month keys; windows over the ~80-row month table.",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) AS INTEGER) * 100
               + CAST(month(o_orderdate) AS INTEGER) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    monthly AS (
      SELECT ym, SUM(cents) AS flow_cents,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
      FROM o GROUP BY ym
    ),
    firsts AS (
      SELECT MIN(ym) AS first_ym FROM o GROUP BY o_custkey
    ),
    starts AS (
      SELECT first_ym AS ym, CAST(COUNT(*) AS BIGINT) AS n_started
      FROM firsts GROUP BY first_ym
    )
    SELECT m.ym,
           CAST(SUM(m.flow_cents) OVER (ORDER BY m.ym
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0 AS total_balance,
           m.n_active,
           CAST(SUM(COALESCE(s.n_started, 0)) OVER (ORDER BY m.ym
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - m.n_active AS BIGINT) AS n_carried
    FROM monthly m LEFT JOIN starts s ON s.ym = m.ym
    """,
)
def q_semi_additive_balance_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate").cast("int") * 100
            + F.month("o_orderdate").cast("int")
        ).alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    monthly = o.groupBy("ym").agg(
        F.sum("cents").alias("flow_cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
    )
    starts = (
        o.groupBy("o_custkey")
        .agg(F.min("ym").alias("ym"))
        .groupBy("ym")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_started"))
    )
    # horizon-bounded (~80 months) single-partition window
    wm = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, 0)
    j = monthly.join(starts, "ym", "left")
    return j.select(
        "ym",
        (F.sum("flow_cents").over(wm).cast("double") / 100.0).alias(
            "total_balance"
        ),
        "n_active",
        (
            F.sum(F.coalesce(F.col("n_started"), F.lit(0))).over(wm)
            - F.col("n_active")
        )
        .cast("bigint")
        .alias("n_carried"),
    )
