"""Sixteenth-wave coverage: edit-distance-verified near-dup pairs,
customer segment migration, market concentration (HHI), and
new-vs-returning revenue decomposition.

docs/CROSS_ENGINE.md rules apply: df-capped candidate joins (never
all-pairs), truncating DIV fixed point, rule-19 integer year/month,
deterministic tie-breaks. levenshtein() is the classic unit-cost
metric on both engines (probed equal on edge cases).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Edit-distance-verified near-dup pairs
# ---------------------------------------------------------------------------

_EDIT_MAX_DF = 50
_EDIT_MIN_SHARED = 3
_EDIT_PREFIX = 200
_EDIT_MAX_DIST = 60


@register(
    "dedup_edit_distance_pairs",
    "Near-dup pairs verified by EDIT DISTANCE: candidates come from "
    "the standard df-capped shared-3-gram-shingle equi-join (>= 3 "
    "shared shingles — fan-out bounded by max_df^2 per shingle, "
    "never corpus^2), then each candidate pair is verified by "
    "levenshtein on the 200-char canonical prefixes with threshold "
    "60 — the character-level verification modality Jaccard/MinHash "
    "cannot express (transpositions, small in-place edits). "
    "levenshtein is the classic unit-cost DP, identical on both "
    "engines. The O(prefix^2) DP runs ONLY on candidates that "
    "survive the shared-shingle count — the two-stage "
    "candidate/verify shape every scalable fuzzy-match pipeline "
    "uses.",
    f"""
    WITH toks AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS canon,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
        FROM toks WHERE len(t) >= 3
      )
    ),
    capped AS (
      SELECT doc_id, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                        HAVING COUNT(*) <= {_EDIT_MAX_DF})
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {_EDIT_MIN_SHARED}
    )
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(substr(ta.canon, 1, {_EDIT_PREFIX}),
                            substr(tb.canon, 1, {_EDIT_PREFIX})) AS BIGINT)
             AS edit_distance
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.id_a
    JOIN toks tb ON tb.doc_id = c.id_b
    WHERE levenshtein(substr(ta.canon, 1, {_EDIT_PREFIX}),
                      substr(tb.canon, 1, {_EDIT_PREFIX})) <= {_EDIT_MAX_DIST}
    """,
)
def q_dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.dedup import shingle_sets
    from etl_seattle_call_data_spark.operators.text import canonical_text
    from etl_seattle_call_data_spark.operators.util import memo

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        canonical_text(F.col("text")).alias("canon"),
    )
    # Same (doc_id, 3-gram shingle) table the whole dedup family shares
    # ("doc_shingles" — jaccard/minhash/containment): one tokenize+
    # explode+distinct per corpus per session instead of a private
    # rebuild feeding this query's THREE consumers (df cap + both join
    # sides).
    sh = memo("doc_shingles", lambda: shingle_sets(docs))
    keep = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _EDIT_MAX_DF
    )
    capped = sh.join(keep.select("shingle"), "shingle")
    a = capped.select(F.col("doc_id").alias("id_a"), "shingle")
    b = capped.select(F.col("doc_id").alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _EDIT_MIN_SHARED)
        .select("id_a", "id_b")
    )
    prefixes = memo(
        "edit_prefixes",
        lambda: toks.select("doc_id", F.substring("canon", 1, _EDIT_PREFIX).alias("pfx")),
    )
    ta = prefixes.select(F.col("doc_id").alias("id_a"), F.col("pfx").alias("pa"))
    tb = prefixes.select(F.col("doc_id").alias("id_b"), F.col("pfx").alias("pb"))
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(dist <= _EDIT_MAX_DIST)
        .select("id_a", "id_b", dist.cast("bigint").alias("edit_distance"))
    )


# ---------------------------------------------------------------------------
# Customer segment migration matrix
# ---------------------------------------------------------------------------


@register(
    "segment_migration_matrix",
    "Customer value-segment migration: spend quintile in the first "
    "order-history half (before 1998) vs the second, as a 5x5 "
    "transition matrix over customers active in BOTH halves — the "
    "upgrade/downgrade census behind retention and CRM planning. "
    "Quintiles are NTILE(5) over (spend DESC, custkey) per half "
    "(deterministic tie-break, rule 20); spend is exact BIGINT "
    "cents. Two half aggregates + one equi-join on custkey; the "
    "matrix aggregate is 25 rows.",
    """
    WITH h1 AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    h2 AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_custkey
    ),
    q1 AS (
      SELECT custkey, NTILE(5) OVER (ORDER BY cents DESC, custkey) AS seg_h1
      FROM h1
    ),
    q2 AS (
      SELECT custkey, NTILE(5) OVER (ORDER BY cents DESC, custkey) AS seg_h2
      FROM h2
    )
    SELECT q1.seg_h1, q2.seg_h2,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM q1 JOIN q2 ON q2.custkey = q1.custkey
    GROUP BY q1.seg_h1, q2.seg_h2
    """,
)
def q_segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: ONE orders pass instead of two. The previous shape ran
    # two_phase_rank per half — two orders scans, two checkpoint
    # materializations and two SERIALIZED driver offset-collects. Both
    # halves now ride one (half, custkey) rollup through the GROUPED
    # two-phase rank (no driver collect at all); per-half NTILE(5) uses
    # the column-typed equidepth_bucket_grouped with per-half totals
    # attached from the bounded 2-row count table, and the h1×h2 join
    # becomes a conditional-aggregate pivot consuming the ranked frame
    # once (CLAUDE.md one-pass-restructure rule).
    from etl_seattle_call_data_spark.operators.ranking import (
        equidepth_bucket_grouped,
        two_phase_rank_in_groups,
    )

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    hh = (
        o.groupBy(
            F.when(F.col("o_orderdate") < cut, F.lit(1))
            .otherwise(F.lit(2))
            .alias("half"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.sum(cents).alias("cents"))
        .withColumn("negc", -F.col("cents"))
    )
    # ranked feeds the 2-row totals branch AND the segment probe —
    # barrier once (multi-consumer rule)
    ranked = checkpoint(
        two_phase_rank_in_groups(
            hh,
            group_cols=["half"],
            order_by=["negc", "custkey"],
            coarse=F.expr("negc DIV 100000"),
            rank_name="rank",
        )
    )
    totals = ranked.groupBy("half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_half")
    )
    seg = ranked.join(F.broadcast(totals), "half").select(
        "custkey",
        "half",
        equidepth_bucket_grouped(F.col("rank"), F.col("n_half"), 5).alias("seg"),
    )
    return (
        seg.groupBy("custkey")
        .agg(
            F.max(F.when(F.col("half") == 1, F.col("seg"))).alias("seg_h1"),
            F.max(F.when(F.col("half") == 2, F.col("seg"))).alias("seg_h2"),
        )
        .filter(F.col("seg_h1").isNotNull() & F.col("seg_h2").isNotNull())
        .groupBy("seg_h1", "seg_h2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Market concentration (HHI) per brand
# ---------------------------------------------------------------------------


@register(
    "market_concentration_hhi",
    "Herfindahl-Hirschman concentration index per brand market: each "
    "supplier's revenue share within the brand in truncated ppm, HHI "
    "= sum of squared shares rescaled to ppm (monopoly = 1e6) — the "
    "antitrust-grade concentration number, all integer fixed point "
    "(shares truncate BEFORE squaring, identically on both "
    "engines). Flags brands above the 0.25 concentration line. One "
    "fact-dim join, one (brand, supplier) rollup (bounded 25x100), "
    "window total per brand, 25-row output.",
    """
    WITH bs AS (
      SELECT p.p_brand AS brand, l.l_suppkey AS suppkey,
             SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    shares AS (
      SELECT brand, suppkey, cents,
             cents * 1000000 // SUM(cents) OVER (PARTITION BY brand)
               AS share_ppm,
             SUM(cents) OVER (PARTITION BY brand) AS total_cents
      FROM bs
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(MAX(total_cents) AS DOUBLE) / 100.0 AS total_revenue,
           CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
           SUM(share_ppm * share_ppm) // 1000000 > 250000 AS concentrated
    FROM shares
    GROUP BY brand
    """,
)
def q_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"))
    )
    wb = Window.partitionBy("brand")
    shares = bs.select(
        "brand",
        "cents",
        F.expr("cents * 1000000 DIV SUM(cents) OVER (PARTITION BY brand)").alias(
            "share_ppm"
        ),
        F.sum("cents").over(wb).alias("total_cents"),
    )
    hhi = F.expr("SUM(share_ppm * share_ppm) DIV 1000000")
    return shares.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        (F.max("total_cents").cast("double") / 100.0).alias("total_revenue"),
        hhi.cast("bigint").alias("hhi_ppm"),
        (hhi > 250000).alias("concentrated"),
    )


# ---------------------------------------------------------------------------
# New vs returning revenue per month
# ---------------------------------------------------------------------------


@register(
    "new_vs_returning_revenue",
    "Revenue decomposition per calendar month: dollars from FIRST-"
    "time customers (their earliest-ever order month) vs returning "
    "ones, with the new-revenue share in ppm — the acquisition-vs-"
    "retention lens on the top line. Months are integer year*100+"
    "month (rule 19 casts; no DATE canonicalization drift); each "
    "customer's first month is one min() window over the custkey "
    "partition — a single fact shuffle, then a bounded month "
    "aggregate. Exact BIGINT cents throughout.",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) AS INTEGER) * 100
               + CAST(month(o_orderdate) AS INTEGER) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    flagged AS (
      SELECT ym, cents,
             CASE WHEN ym = MIN(ym) OVER (PARTITION BY o_custkey)
                  THEN 1 ELSE 0 END AS is_new
      FROM o
    )
    SELECT ym,
           CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS DOUBLE)
             / 100.0 AS new_revenue,
           CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS DOUBLE)
             / 100.0 AS returning_revenue,
           CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1000000
                // SUM(cents) AS BIGINT) AS new_share_ppm
    FROM flagged
    GROUP BY ym
    """,
)
def q_new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate").cast("int") * 100 + F.month("o_orderdate").cast("int")
        ).alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    flagged = o.select(
        "ym",
        "cents",
        F.when(
            F.col("ym") == F.min("ym").over(Window.partitionBy("o_custkey")), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return flagged.groupBy("ym").agg(
        (
            F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0)).cast("double")
            / 100.0
        ).alias("new_revenue"),
        (
            F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0)).cast("double")
            / 100.0
        ).alias("returning_revenue"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1000000"
            " DIV SUM(cents) AS BIGINT)"
        ).alias("new_share_ppm"),
    )
