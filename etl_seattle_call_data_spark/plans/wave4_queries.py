"""Round-4 wave: distributed exact ranking applications (Gini
concentration), recursive CTEs run as ONE ANSI string on both engines
(Spark 4 WITH RECURSIVE), schema-evolution unions, binned interval
overlap joins, association-rule mining, deterministic weighted
sampling, and fixed-point iterative graph/cluster algorithms.

Cross-engine rules per docs/CROSS_ENGINE.md: exact integer/decimal math
until one final IEEE op per ratio; fixed-point DIV instead of libm;
every computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import ranking
from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# Gini coefficient of revenue concentration (exact distributed ranking)


@register(
    "gini_revenue_concentration",
    "Gini coefficient of customer revenue concentration — the standard "
    "inequality measure over per-customer order totals, computed from "
    "the EXACT global revenue rank: G = (2·Σ(rank·rev) − (n+1)·Σrev) / "
    "(n·Σrev). The rank comes from operators/ranking.py's two-phase "
    "global rank (coarse revenue buckets + broadcast prefix offsets — "
    "no single-partition sort), every Σ is an exact decimal aggregate, "
    "and the final expression is ONE double division of identical "
    "integers/decimals on both engines. Ties in revenue break on the "
    "unique custkey, so rank·rev sums are cross-engine identical.",
    """
    WITH r AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rnk
      FROM r
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rev) AS s0,
             SUM(rnk * rev) AS s1
      FROM ranked
    )
    SELECT n AS n_customers,
           CAST(s0 AS DOUBLE) AS total_revenue,
           CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / CAST(n * s0 AS DOUBLE)
             AS gini
    FROM s
    """,
)
def q_gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked, n = ranking.two_phase_rank(
        rev,
        order_by=["rev", "o_custkey"],
        coarse=F.floor(F.col("rev") / F.lit(10000)),
        rank_name="rnk",
    )
    s = ranked.agg(
        F.sum("rev").alias("s0"),
        F.sum(F.col("rnk") * F.col("rev")).alias("s1"),
    )
    num = F.lit(2) * F.col("s1") - F.lit(n + 1) * F.col("s0")
    den = F.lit(n) * F.col("s0")
    return s.select(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.col("s0").cast("double").alias("total_revenue"),
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE) — one ANSI string, both engines


_RECURSIVE_SQL = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT DISTINCT prev_type AS src, event_type AS dst
      FROM seq
      WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ),
    reach(node, hops) AS (
      SELECT CAST('view' AS STRING) AS node, 0 AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY node
"""


@register(
    "recursive_reachability",
    "Recursive CTE as a first-class surface: breadth-first reachability "
    "(minimum hops from 'view') over the distinct event-type transition "
    "graph, expressed as ONE ANSI WITH RECURSIVE string executed "
    "verbatim by BOTH engines — Spark 4's recursive CTE support makes "
    "the iterative-union plan native (each recursion step is a join "
    "against the frontier; the depth guard bounds it). Scale: the edge "
    "set is TYPE-level (distinct transitions, ~25 rows regardless of "
    "SF) derived from one windowed pass over events, so recursion "
    "iterates over a broadcast-sized frontier while the heavy lifting "
    "(LAG + DISTINCT) is one shuffle of the event stream.",
    _RECURSIVE_SQL,
)
def q_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.sources.registry import load_tables

    load_tables(spark, sf_dir, names=("events",))
    # r11: materialize the TYPE-level edge table before the recursion —
    # Spark inlines a non-recursive CTE into every recursion level, so
    # the fact-scale LAG + DISTINCT re-executed once per hop (up to 4x).
    # The edge set is bounded (≤ #types² rows at any SF); checkpoint it
    # and let the recursive union iterate over the ~25 materialized
    # rows. The oracle string (_RECURSIVE_SQL) is unchanged — DuckDB
    # evaluates the identical semantics.
    edges = checkpoint(spark.sql(
        """
        WITH seq AS (
          SELECT user_id, event_type, ts, event_id,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM events
        )
        SELECT DISTINCT prev_type AS src, event_type AS dst
        FROM seq
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
        """
    ))
    edges.createOrReplaceTempView("__reach_edges_r11")
    return spark.sql(
        """
        WITH RECURSIVE reach(node, hops) AS (
          SELECT CAST('view' AS STRING) AS node, 0 AS hops
          UNION ALL
          SELECT e.dst, r.hops + 1
          FROM reach r JOIN __reach_edges_r11 e ON e.src = r.node
          WHERE r.hops < 3
        )
        SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops
        FROM reach GROUP BY node
        """
    )


# ---------------------------------------------------------------------------
# Schema evolution: union of snapshots with differing columns


@register(
    "schema_evolution_union",
    "Schema-evolution union — the every-warehouse migration moment when "
    "a column (o_orderpriority) exists only in post-upgrade data: the "
    "pre-1995 snapshot (2 columns) and the post-1995 snapshot (3 "
    "columns) combine by NAME with missing columns null-filled "
    "(unionByName(allowMissingColumns=True) ≡ DuckDB's UNION ALL BY "
    "NAME), then roll up per priority with the null bucket labelled. "
    "Positional UNION would silently misalign or reject; by-name union "
    "is the append-only schema-on-read contract. One scan per snapshot "
    "arm (disjoint pushed date predicates), one agg shuffle.",
    """
    WITH old_snap AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1995-01-01'
    ),
    new_snap AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    ),
    u AS (
      SELECT * FROM old_snap UNION ALL BY NAME SELECT * FROM new_snap
    )
    SELECT COALESCE(o_orderpriority, '(pre-upgrade)') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_revenue
    FROM u GROUP BY COALESCE(o_orderpriority, '(pre-upgrade)')
    """,
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    old_snap = o.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice"
    )
    new_snap = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    u = old_snap.unionByName(new_snap, allowMissingColumns=True)
    return u.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("(pre-upgrade)")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# Interval overlap join via time-bucket blocking (band join)


@register(
    "interval_overlap_pairs",
    "Band (interval-overlap) join AS AN AGGREGATE: count cross-type "
    "event pairs within ±2 minutes of each other, WITHOUT materializing "
    "the pairs. The naive theta-join is O(n²); a 2-minute bucket join "
    "(the round-4 plan) is O(density²·buckets) — the registry's worst "
    "measured grower at 1.36x/R because replication densifies a fixed "
    "calendar. This plan is O(n): per counted type X, an inclusive "
    "running count over the event timeline (two_phase_cumsum_in_groups "
    "— no type ever serializes through one task) read at signed probe "
    "markers t+W (+1) and t−W−1 (−1) placed by every event of a later "
    "type Y; Σ sign·cum grouped by (X, Y) telescopes to the exact pair "
    "count (prefix-sum differencing, integer-exact, ties resolved by "
    "ordering counted rows before markers at equal microseconds). The "
    "oracle states the same semantics as a direct range join (DuckDB "
    "IEJoin handles oracle-scale data).",
    """
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.event_type < b.event_type
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000
    GROUP BY a.event_type, b.event_type
    """,
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured (round 9, best-of-reps, tuned session): 1.16 s sf0.1 /
    2.77 s sf1 / 27.3 s sf10 = 0.99x/R — LINEAR, where the old
    2-minute-bucket pair join measured 0.58 / 4.18 / 27.2 s: cheaper
    at the overhead-dominated gate SF, equal at sf10, and
    density-QUADRATIC beyond it (pair volume x100 per decade — at the
    third decade the bucket join does ~100x this plan's work). The
    committed BENCH_SUBSET_sf{1,10}.json snapshots predate this
    rewrite for this query (both captured the old plan, so the pair
    stays internally consistent); the numbers above are the rewrite's
    own fresh measurements."""
    W = 120_000_000
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("etype"), F.unix_micros(F.col("ts")).alias("us")
    )
    types = ev.select(F.col("etype").alias("type_a")).distinct()
    # counted rows: each event counts for its own type's timeline
    counted = ev.select(
        F.col("etype").alias("type_a"),
        F.lit(None).cast(ev.schema["etype"].dataType).alias("type_b"),
        F.col("us").alias("us_key"),
        F.lit(0).alias("flag"),
        F.lit(1).alias("w"),
        F.lit(0).alias("sign"),
    )
    # probe markers: every event of type Y probes every EARLIER type X
    # (type_a < type_b orients each unordered pair once); fan-out is
    # 2 x (#types smaller than Y) per event — types are a bounded
    # categorical domain, so this is a constant-factor explode
    marks = (
        ev.join(F.broadcast(types), F.col("type_a") < F.col("etype"))
        .select(
            "type_a",
            F.col("etype").alias("type_b"),
            "us",
            F.explode(
                F.array(
                    F.struct(
                        (F.col("us") + W).alias("us_key"), F.lit(1).alias("sign")
                    ),
                    F.struct(
                        (F.col("us") - W - 1).alias("us_key"), F.lit(-1).alias("sign")
                    ),
                )
            ).alias("m"),
        )
        .select(
            "type_a",
            "type_b",
            F.col("m.us_key").alias("us_key"),
            F.lit(1).alias("flag"),
            F.lit(0).alias("w"),
            F.col("m.sign").alias("sign"),
        )
    )
    tl = counted.unionByName(marks)
    # r11 (§5 spill, VERDICT item 4): materialize=False — the cumsum
    # helper's default checkpoint would MATERIALIZE this
    # ~(1 + 2·#smaller-types)·|events| marker stream to executor
    # storage, which is exactly what ground at the third decade (sf100:
    # 369.5 s, 2.91×/R with rows growing ×10). The upstream is a cheap
    # scan + broadcast join + in-row explode with NO shuffle — the
    # CLAUDE.md skipgram class — so letting the totals branch and the
    # window probe each re-derive it pipelines two linear passes
    # instead of writing the widest frame in the plan to disk.
    cum = ranking.two_phase_cumsum_in_groups(
        tl,
        group_cols=["type_a"],
        order_by=["us_key", "flag"],
        coarse=F.expr("us_key DIV 3600000000"),
        weight=F.col("w"),
        cum_name="__cum",
        materialize=False,
    )
    return (
        cum.filter(F.col("flag") == 1)
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.col("sign") * F.col("__cum")).cast("bigint").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# Association rules (support / confidence / lift) over market baskets


@register(
    "association_rules_lift",
    "Association-rule mining over order baskets: for the top-20 part "
    "pairs by lift, emit exact co-occurrence count, support (ONE IEEE "
    "division), and fixed-point confidence/lift — (n_ab*10^6) DIV n_a "
    "and (n_ab*n*10^6) DIV (n_a*n_b) — integer DIV on both engines, so "
    "no libm/rounding divergence. Candidate pairs are the bounded "
    "basket self-join (Σ basket², ~7-line baskets); item counts join "
    "back on the part key (AQE broadcasts the smaller side); the "
    "basket-count scalar is a broadcast one-row frame. Fixed-point "
    "headroom: n·n_ab·10^6 needs < 9.2e18 — fine through ~10^8 "
    "baskets; beyond that drop the scale factor (docstring contract).",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
           FROM items),
    item_counts AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM items GROUP BY l_partkey
    ),
    pair_counts AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_ab,
           CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
           CAST((n_ab * 1000000) // ia.n_item AS BIGINT) AS confidence_fp,
           CAST((n_ab * n_baskets * 1000000) // (ia.n_item * ib.n_item)
                AS BIGINT) AS lift_fp
    FROM pair_counts
    JOIN item_counts ia ON ia.l_partkey = part_a
    JOIN item_counts ib ON ib.l_partkey = part_b
    CROSS JOIN nb
    ORDER BY lift_fp DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.plans.shared import (
        memo_basket_items,
        memo_copurchase_pairs,
    )

    items = memo_basket_items(spark, sf_dir)
    nb = items.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_baskets")
    )
    item_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    pair_counts = memo_copurchase_pairs(spark, sf_dir)
    ia = item_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_item_a")
    )
    ib = item_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_item_b")
    )
    joined = (
        pair_counts.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(nb))
    )
    return (
        joined.select(
            "part_a",
            "part_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n_baskets").cast("double"))
            .alias("support"),
            F.expr("CAST((n_ab * 1000000) DIV n_item_a AS BIGINT)").alias(
                "confidence_fp"
            ),
            F.expr(
                "CAST((n_ab * n_baskets * 1000000) DIV (n_item_a * n_item_b)"
                " AS BIGINT)"
            ).alias("lift_fp"),
        )
        .orderBy(F.desc("lift_fp"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Deterministic weighted (Bernoulli) sampling


@register(
    "sample_weighted_bernoulli",
    "Weighted Bernoulli sample — each document kept with probability "
    "0.2·(n_chars/max_chars), implemented as a SEEDLESS deterministic "
    "filter: portable-md5 bucket(doc_id) · max_chars < n_chars · "
    "200000, all-integer (no float probability, no RNG, no partition "
    "sensitivity — the weighted analog of sample_hash_orders). The "
    "max-weight scalar is one broadcast row; the sample itself is a "
    "narrow filter over the scan. Adding documents never flips "
    "existing keep decisions (hash is per-row), the property "
    "reservoir/randomSplit sampling lacks.",
    """
    WITH mx AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS max_chars
                FROM documents)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents, mx
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000) * max_chars
          < n_chars * 200000
    """,
)
def q_sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").cast("bigint").alias("max_chars"))
    return (
        docs.crossJoin(F.broadcast(mx))
        .filter(
            hash_bucket("doc_id", 1_000_000) * F.col("max_chars")
            < F.col("n_chars") * F.lit(200_000)
        )
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# PageRank, 3 fixed-point iterations (iterative graph algorithm, exact)


_PR_TOTAL = 1_000_000_000_000  # rank mass in integer micro-units


@register(
    "pagerank_copurchase_3iter",
    "PageRank (3 damped iterations, d=0.85) over the part co-purchase "
    "graph — the iterative graph algorithm family (label propagation's "
    "weighted cousin) made CROSS-ENGINE EXACT by fixed-point integer "
    "arithmetic: rank mass lives in 10^12 integer units, every "
    "contribution is rank DIV degree and every damping step is "
    "(85·Σ) DIV 100 — no float accumulation order to diverge. Spark "
    "runs the canonical rank-join loop (edges ⋈ ranks → groupBy dst; "
    "ranks move, edges don't — the cached edge list shuffles once); "
    "the oracle unrolls the same three iterations as CTEs. The one "
    "driver value is the bounded node-count scalar (IVF-codebook "
    "class). Isolated parts (never co-purchased) are out of graph by "
    "definition; the symmetric edge set leaves no dangling nodes.",
    f"""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS MATERIALIZED (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS MATERIALIZED (
      SELECT part_a AS src, part_b AS dst FROM prs
      UNION ALL
      SELECT part_b AS src, part_a AS dst FROM prs
    ),
    deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    r0 AS MATERIALIZED (SELECT node, d, CAST({_PR_TOTAL} // n_nodes AS BIGINT) AS r
           FROM deg, nn),
    s1 AS MATERIALIZED (SELECT e.dst AS node, SUM(r0.r // r0.d) AS s
           FROM edges e JOIN r0 ON r0.node = e.src GROUP BY e.dst),
    r1 AS MATERIALIZED (SELECT r0.node, r0.d,
                  CAST((({_PR_TOTAL} * 15) // 100) // nn.n_nodes
                       + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS r
           FROM r0 LEFT JOIN s1 ON s1.node = r0.node CROSS JOIN nn),
    s2 AS MATERIALIZED (SELECT e.dst AS node, SUM(r1.r // r1.d) AS s
           FROM edges e JOIN r1 ON r1.node = e.src GROUP BY e.dst),
    r2 AS MATERIALIZED (SELECT r1.node, r1.d,
                  CAST((({_PR_TOTAL} * 15) // 100) // nn.n_nodes
                       + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS r
           FROM r1 LEFT JOIN s2 ON s2.node = r1.node CROSS JOIN nn),
    s3 AS MATERIALIZED (SELECT e.dst AS node, SUM(r2.r // r2.d) AS s
           FROM edges e JOIN r2 ON r2.node = e.src GROUP BY e.dst),
    r3 AS MATERIALIZED (SELECT r2.node, r2.d,
                  CAST((({_PR_TOTAL} * 15) // 100) // nn.n_nodes
                       + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS r
           FROM r2 LEFT JOIN s3 ON s3.node = r2.node CROSS JOIN nn)
    SELECT node AS part, d AS degree, r AS rank_fp
    FROM r3
    ORDER BY rank_fp DESC, part
    LIMIT 50
    """,
)
def q_pagerank_copurchase_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.plans.shared import memo_copurchase_edges

    # shared src-partitioned symmetric edge cache: the per-iteration
    # join on src and the degree groupBy(src) both satisfy their
    # distribution from the cache — zero edge-frame shuffles per round
    edges = memo_copurchase_edges(spark, sf_dir).select("src", "dst")
    # r11 (kcore cadence): deg feeds FOUR plan branches (rank init + the
    # three damping updates) — un-materialized, Catalyst re-aggregates
    # the edge cache once per branch, and the unrolled plan nests the
    # duplicated deg/edge trees (a 3195-line explain). Checkpoint
    # deg ONCE: each round's plan then scans two materialized inputs
    # (edge cache + deg RDD) and the plan is linear in iterations.
    # Measured negative (do not re-add): ALSO checkpointing each rank
    # generation serialized three extra materialization barriers for
    # frames each consumed exactly ONCE — the label_propagation_2round
    # r10 lesson — and cost 2.11 s → 2.41 s count best-of-5 at sf0.1.
    deg = checkpoint(
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    n_nodes = deg.count()  # bounded scalar (node count), IVF-codebook class
    base_fp = ((_PR_TOTAL * 15) // 100) // n_nodes
    ranks = deg.withColumn("r", F.lit(_PR_TOTAL // n_nodes).cast("bigint"))
    for _ in range(3):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"), F.col("r"), F.col("d")
                ),
                "src",
            )
            .withColumn("c", F.expr("r DIV d"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .select(
                "node",
                "d",
                (
                    F.lit(base_fp)
                    + F.expr("(85 * COALESCE(s, 0)) DIV 100")
                ).cast("bigint").alias("r"),
            )
        )
    return (
        ranks.select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.col("r").alias("rank_fp"),
        )
        .orderBy(F.desc("rank_fp"), "part")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# One exact k-means iteration over integer-quantized embeddings


@register(
    "kmeans_assign_update",
    "One full k-means iteration (assign + centroid update) over the "
    "embedding corpus, CROSS-ENGINE EXACT via integer quantization: "
    "vectors quantize to round(x·1000) ints (the dedup_semantic "
    "contract), distances are exact integer squared-L2, argmin ties "
    "break on centroid id, and updated centroids are per-dimension "
    "integer means (sum DIV count). Seeds are the first k=8 vec_ids — "
    "deterministic, no RNG. Spark shape: the 8-centroid table "
    "broadcasts into a nested-loop scoring join (8x fan-out, never "
    "corpus²); assignment is a window argmin; the update is one "
    "posexplode + (cluster, dim) aggregate. Per-cluster parity "
    "evidence: member count, total squared distance, and the centroid "
    "checksum (Σ over dims) — order-free exact integers.",
    """
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS q
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, q AS cq FROM qv WHERE vec_id < 8),
    scored AS (
      SELECT v.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, len(v.q) + 1),
                  i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS BIGINT)
               AS d2
      FROM qv v CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    dims AS (
      SELECT a.cid, i AS dim, v.q[i] AS x
      FROM assigned a JOIN qv v USING (vec_id), range(1, 65) t(i)
    ),
    newc AS (
      SELECT cid, dim,
             CAST(SUM(x) // COUNT(*) AS BIGINT) AS c_new
      FROM dims GROUP BY cid, dim
    ),
    checks AS (
      SELECT cid, CAST(SUM(c_new) AS BIGINT) AS centroid_checksum
      FROM newc GROUP BY cid
    )
    SELECT a.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(a.d2) AS BIGINT) AS total_sqdist,
           c.centroid_checksum
    FROM assigned a JOIN checks c ON c.cid = a.cid
    GROUP BY a.cid, c.centroid_checksum
    """,
)
def q_kmeans_assign_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("q"),
    )
    cents = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    scored = qv.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("q", "cq", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    assigned = (
        scored.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "cid")),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    dims = assigned.join(qv, "vec_id").select(
        "cid", F.posexplode("q").alias("dim", "x")
    )
    newc = dims.groupBy("cid", "dim").agg(
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("c_new")
    )
    checks = newc.groupBy("cid").agg(
        F.sum("c_new").cast("bigint").alias("centroid_checksum")
    )
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("d2").cast("bigint").alias("total_sqdist"),
        )
        .join(
            F.broadcast(checks.select(F.col("cid").alias("cluster_id"),
                                      "centroid_checksum")),
            "cluster_id",
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer training, step 1)


@register(
    "bpe_first_merge_pairs",
    "Tokenizer training's first BPE step: the 20 most frequent adjacent "
    "character pairs across the corpus, weighted by word frequency. The "
    "scale trick IS the classic BPE one — aggregate the corpus to its "
    "WORD VOCABULARY first (corpus-size shuffle happens once, on the "
    "word key), then explode character positions over vocab entries "
    "only: pair-candidate work is bounded by Σ vocab word lengths, not "
    "corpus tokens. All counts exact integers; substr/sequence index "
    "semantics (1-based, end-exclusive range) align across engines.",
    """
    WITH words AS (
      SELECT lower(t) AS w
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS t
            FROM documents)
      WHERE regexp_matches(lower(t), '^[a-z]+$')
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, f
      FROM (
        SELECT w, f, unnest(range(1, length(w))) AS i
        FROM vocab WHERE length(w) >= 2
      )
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
)
def q_bpe_first_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(text.tokens("text")).alias("t"))
        .select(F.lower("t").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            "w",
            "f",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.expr("substr(w, i, 2)").alias("pair"), "f")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Length-distribution matching (importance resampling for training mix)


@register(
    "length_distribution_match",
    "Distribution-matching downsample: documents resampled so every "
    "length bucket (n_chars DIV 1000, capped at 4) contributes at most "
    "an equal share (n_total DIV 5) — the importance-resampling shape "
    "used to rebalance pretraining mixtures toward a target length/"
    "domain profile. Keep decision is the all-integer deterministic "
    "filter portable_hash_bucket(doc_id)·actual_b < 10^6·target "
    "(overrepresented buckets thin proportionally, underrepresented "
    "ones keep everything — min(1, target/actual) with zero float "
    "probability). Bucket populations are a 5-row broadcast; the "
    "sample itself is a narrow filter. Report: per-bucket before/after "
    "counts.",
    """
    WITH b AS (
      SELECT doc_id,
             CAST(LEAST(n_chars // 1000, 4) AS BIGINT) AS bucket
      FROM documents
    ),
    actual AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_bucket FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM b),
    kept AS (
      SELECT b.doc_id, b.bucket
      FROM b JOIN actual USING (bucket) CROSS JOIN tot
      WHERE (('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000) * actual.n_bucket
            < 1000000 * (tot.n_total // 5)
    )
    SELECT a.bucket, a.n_bucket AS n_before,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_after
    FROM actual a
    LEFT JOIN (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_kept
               FROM kept GROUP BY bucket) k
      ON k.bucket = a.bucket
    """,
)
def q_length_distribution_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.expr("CAST(LEAST(n_chars DIV 1000, 4) AS BIGINT)").alias("bucket"),
    )
    actual = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bucket")
    )
    tot = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    kept = (
        b.join(F.broadcast(actual), "bucket")
        .crossJoin(F.broadcast(tot))
        .filter(
            hash_bucket("doc_id", 1_000_000) * F.col("n_bucket")
            < F.lit(1_000_000) * F.expr("n_total DIV 5")
        )
    )
    kept_counts = kept.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    return actual.join(F.broadcast(kept_counts), "bucket", "left").select(
        "bucket",
        F.col("n_bucket").alias("n_before"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_after"),
    )


# ---------------------------------------------------------------------------
# Single-pass feature-store build (wide per-document feature projection)


@register(
    "doc_feature_matrix",
    "Feature-store build: seven per-document features — token count, "
    "distinct-token count, fixed-point type/token ratio, char sum, max "
    "word length, digit-token count, uppercase-initial count — in ONE "
    "narrow projection over ONE scan (array expressions only: no "
    "shuffle, no join, no UDF; whole-stage codegen end to end). The "
    "shape that matters at 100 TB: training-data feature extraction "
    "must be a map-only pass, not a per-feature pipeline — adding a "
    "feature is adding a column expression, not a job. Ratio is "
    "integer fixed-point ((n_types*10^6) DIV n_tokens) — exact on "
    "both engines.",
    """
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
           CAST((len(list_distinct(toks)) * 1000000) // len(toks) AS BIGINT)
             AS ttr_fp,
           CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT)))
                AS BIGINT) AS char_sum,
           CAST(list_max(list_transform(toks, t -> CAST(length(t) AS BIGINT)))
                AS BIGINT) AS max_word_len,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$')))
                AS BIGINT) AS n_digit_tokens,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '^[A-Z]')))
                AS BIGINT) AS n_capitalized
    FROM tok
    WHERE len(toks) > 0
    """,
)
def q_doc_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    lens = F.transform(toks, lambda t: F.length(t).cast("long"))
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("char_sum"),
        F.array_max(lens).cast("long").alias("max_word_len"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_digit_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Z]")))
        .cast("long")
        .alias("n_capitalized"),
    ).filter(F.col("n_tokens") > 0)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.expr("CAST((n_types * 1000000) DIV n_tokens AS BIGINT)").alias("ttr_fp"),
        "char_sum",
        "max_word_len",
        "n_digit_tokens",
        "n_capitalized",
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) encoding — the ANN compression workhorse


@register(
    "pq_encode_embeddings",
    "Product-quantization encode over the embedding corpus — the "
    "compression scheme behind IVF-PQ indices: the 64-dim vector splits "
    "into 8 subspaces of 8 dims, each subspace has a 4-centroid "
    "codebook (deterministic seeds: vec_ids 0-3, integer-quantized), "
    "and every vector encodes to 8 two-bit codes packed into one "
    "BIGINT (Σ code_s·4^s). Exact integer squared-L2 per subspace, "
    "argmin ties on centroid id. Spark shape: the 32-row codebook "
    "broadcasts into an equi-join on the subspace key (4x bounded "
    "fan-out), argmin is a window over (vec, subspace), packing is one "
    "re-aggregation — corpus shuffles once on vec_id. Parity: packed "
    "code + total quantization error, both exact integers.",
    """
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS q
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s, q[s * 8 + 1 : s * 8 + 8] AS sv
      FROM qv, (SELECT unnest(range(0, 8)) AS s)
    ),
    cents AS (
      SELECT vec_id AS cid, s, sv AS cv FROM sub WHERE vec_id < 4
    ),
    scored AS (
      SELECT u.vec_id, u.s, c.cid,
             CAST(list_sum(list_transform(range(1, 9),
                  i -> (u.sv[i] - c.cv[i]) * (u.sv[i] - c.cv[i])))
                  AS BIGINT) AS d2
      FROM sub u JOIN cents c ON c.s = u.s
    ),
    best AS (
      SELECT vec_id, s, cid, d2 FROM (
        SELECT vec_id, s, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, cid) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT vec_id,
           CAST(SUM(cid * (CAST(1 AS BIGINT) << (2 * s))) AS BIGINT)
             AS pq_code,
           CAST(SUM(d2) AS BIGINT) AS total_sq_err
    FROM best GROUP BY vec_id
    """,
)
def q_pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("q"),
    )
    sub = qv.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
        "q",
    ).select(
        "vec_id", "s", F.expr("slice(q, s * 8 + 1, 8)").alias("sv")
    )
    cents = sub.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
    )
    scored = sub.join(F.broadcast(cents), "s").select(
        "vec_id",
        "s",
        "cid",
        F.aggregate(
            F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id", "s").orderBy("d2", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return best.groupBy("vec_id").agg(
        F.sum(F.expr("cid * shiftleft(CAST(1 AS BIGINT), 2 * s)"))
        .cast("bigint")
        .alias("pq_code"),
        F.sum("d2").cast("bigint").alias("total_sq_err"),
    )


# ---------------------------------------------------------------------------
# Contiguous sequence-pattern detection (MATCH_RECOGNIZE-style, bounded)


@register(
    "contiguous_funnel_pattern",
    "Sequence-pattern detection: users whose event stream contains a "
    "CONTIGUOUS view→click→purchase triple (no intervening event) — "
    "the MATCH_RECOGNIZE shape, expressed as two LEADs over the "
    "per-user time order so state per row is exactly two lookaheads "
    "(never a collected path array — the unbounded-buffer trap "
    "top_event_paths taught). One window shuffle on user_id; the "
    "per-user flag is a plain aggregate over match markers. Output: "
    "matching users and their match count.",
    """
    WITH w AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t1,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' AND t1 = 'click'
                              AND t2 = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matches
    FROM w GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'view' AND t1 = 'click'
                         AND t2 = 'purchase' THEN 1 ELSE 0 END) > 0
    """,
)
def q_contiguous_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    match = F.when(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase"),
        1,
    ).otherwise(0)
    return (
        marked.groupBy("user_id")
        .agg(F.sum(match).cast("bigint").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit (fraud/anomaly screen, log-free)


@register(
    "benford_leading_digit",
    "Benford's-law audit of order totals: observed first-significant-"
    "digit distribution vs the Benford expectation — the classic "
    "fabricated-numbers screen. Digit extraction is pure string/integer "
    "work (first char of the integer part — totals are >= 1), counts "
    "are exact, each observed share is ONE IEEE division, and the "
    "Benford expectations are literal constants (no log evaluated at "
    "query time — the repo's log-free rule). One scan, one 9-row "
    "aggregate.",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS DOUBLE) / CAST(n.n_total AS DOUBLE)
             AS observed_share,
           CAST(CASE digit
             WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
             WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
             WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757
           END AS DOUBLE) AS benford_share
    FROM d CROSS JOIN n
    GROUP BY digit, n.n_total
    """,
)
def q_benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING),"
            " 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    benford = (
        F.when(F.col("digit") == 1, 0.301030)
        .when(F.col("digit") == 2, 0.176091)
        .when(F.col("digit") == 3, 0.124939)
        .when(F.col("digit") == 4, 0.096910)
        .when(F.col("digit") == 5, 0.079181)
        .when(F.col("digit") == 6, 0.066947)
        .when(F.col("digit") == 7, 0.057992)
        .when(F.col("digit") == 8, 0.051153)
        .otherwise(0.045757)
    )
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("digit", "n_total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .select(
            "digit",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("n_total").cast("double"))
            .alias("observed_share"),
            benford.alias("benford_share"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus datacard (one-row release report)


@register(
    "corpus_datacard",
    "Corpus datacard — the one-row release report every training-data "
    "drop ships with: document/source/language counts, token and "
    "character totals, exact-duplicate rate, and the minimum-length "
    "quality pass rate. Three lazy aggregates (base stats, distinct "
    "canonical fingerprints, quality gate) stitched by broadcast "
    "one-row joins — the dq scalar-join pattern — so the whole card "
    "is ONE Spark action over two scans of documents. Rates are "
    "integer fixed-point (DIV), counts exact.",
    """
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT)
               AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
                                                x -> x <> '')) >= 20
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
      FROM documents
    ),
    uniq AS (
      SELECT CAST(COUNT(DISTINCT
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
               AS BIGINT) AS n_unique
      FROM documents
    )
    SELECT n_docs, n_sources, n_langs, total_tokens, total_chars,
           n_unique,
           CAST(((n_docs - n_unique) * 1000000) // NULLIF(n_docs, 0)
             AS BIGINT) AS dup_rate_fp,
           n_quality,
           CAST((n_quality * 1000000) // NULLIF(n_docs, 0) AS BIGINT)
             AS quality_rate_fp
    FROM base CROSS JOIN uniq
    """,
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import dq, text
    from etl_seattle_call_data_spark.operators.dedup import canonical_text

    docs = load_table(spark, sf_dir, "documents")
    n_tok = text.token_count("text")
    base = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum(n_tok.cast("bigint")).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.when(n_tok >= 20, 1).otherwise(0)).cast("bigint").alias("n_quality"),
    )
    uniq = docs.agg(
        F.count_distinct(F.md5(canonical_text(F.col("text"))))
        .cast("bigint")
        .alias("n_unique")
    )
    return dq.scalar_join(base, uniq).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "total_chars",
        "n_unique",
        # NULLIF guard (CROSS_ENGINE rule 40): empty corpus -> n_docs=0
        F.expr(
            "CAST(((n_docs - n_unique) * 1000000) DIV NULLIF(n_docs, 0)"
            " AS BIGINT)"
        ).alias("dup_rate_fp"),
        "n_quality",
        F.expr("CAST((n_quality * 1000000) DIV NULLIF(n_docs, 0) AS BIGINT)")
        .alias("quality_rate_fp"),
    )


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented node-iterator) + clustering coefficient


@register(
    "triangle_count_copurchase",
    "Exact triangle count + global clustering coefficient over the part "
    "co-purchase graph. The Spark plan uses the DEGREE-ORIENTED edge-"
    "iterator (Schank/Wagner): every edge points from its (degree, id)-"
    "smaller endpoint, out-neighborhoods collect into sorted arrays "
    "(out-degree under this orientation is O(sqrt(m)), so every array "
    "is bounded even at hot nodes), and each edge (u,v) contributes "
    "|N+(u) ∩ N+(v)| via array_intersect — the wedge stream of the "
    "node-iterator (Σ C(outdeg,2) rows) is never materialized; the "
    "intersection happens in-row inside codegen. Two bounded equi-joins "
    "attach the arrays; that is the whole shuffle budget, which is what "
    "makes exact triangle counting feasible at 100 TB. ANY strict "
    "vertex order counts each triangle exactly once, so the oracle's "
    "simple id-ordered 3-way join proves the degree-oriented plan. "
    "Wedge total is Σ C(deg,2) (exact integers); clustering = "
    "(3·triangles·10^6) DIV wedges.",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM prs e1
      JOIN prs e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN prs e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM prs UNION ALL SELECT b FROM prs
      ) GROUP BY node
    ),
    w AS (
      SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges,
             CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM deg
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM prs)
    SELECT t.n_triangles, m.n_edges, w.n_nodes, w.n_wedges,
           CAST((3 * t.n_triangles * 1000000) // NULLIF(w.n_wedges, 0)
                AS BIGINT) AS clustering_fp
    FROM tri t CROSS JOIN w CROSS JOIN m
    """,
)
def q_triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import dq
    from etl_seattle_call_data_spark.operators.util import memo
    from etl_seattle_call_data_spark.plans.shared import memo_copurchase_pairs

    prs = memo_copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    deg = (
        prs.select(F.col("a").alias("node"))
        .unionByName(prs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ed = prs.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # two consumers (the adjacency build + the edge probe) — memoize the
    # oriented edge list or the degree join runs twice
    oriented = memo(
        "triangle:oriented",
        lambda: ed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        ),
        token=("triangle:oriented", sf_dir),
    )
    # out-neighborhood arrays: O(sqrt(m))-bounded under degree
    # orientation, so no hot-node aggregation buffer can blow up
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    # edge-iterator: edge (u,v) closes |N+(u) ∩ N+(v)| triangles, each
    # triangle counted exactly once (w lies in both out-neighborhoods
    # only for the unique oriented pair u→v). The left join covers sink
    # nodes with no out-edges; the intersection runs in-row — the
    # Σ C(outdeg,2) wedge stream of the node-iterator never exists.
    probed = (
        oriented.join(
            adj.select(F.col("src").alias("u_key"), F.col("nbrs").alias("nu")),
            F.col("src") == F.col("u_key"),
        )
        .join(
            adj.select(F.col("src").alias("v_key"), F.col("nbrs").alias("nv")),
            F.col("dst") == F.col("v_key"),
            "left",
        )
        .select(
            F.coalesce(
                F.size(F.array_intersect("nu", "nv")), F.lit(0)
            ).alias("tri_e")
        )
    )
    # coalesce: SUM over an empty oriented edge set is NULL, but the
    # oracle's 3-way-join COUNT yields 0 — keep the empty-graph case exact.
    tri = probed.agg(
        F.coalesce(F.sum("tri_e"), F.lit(0)).cast("bigint").alias("n_triangles")
    )
    wcount = deg.agg(
        F.sum(F.expr("(d * (d - 1)) DIV 2")).cast("bigint").alias("n_wedges"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    m = prs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return dq.scalar_join(tri, wcount, m).select(
        "n_triangles",
        "n_edges",
        "n_nodes",
        "n_wedges",
        F.expr(
            "CAST((3 * n_triangles * 1000000) DIV NULLIF(n_wedges, 0) AS BIGINT)"
        ).alias("clustering_fp"),
    )
