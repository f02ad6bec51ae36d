"""Graph and market-basket queries.

The part co-purchase graph derived from order baskets (plans/shared.py
memoizes its item table, pair counts and src-partitioned edge list once
per session) and what is computed over it: association rules and
frequent itemsets, PageRank, triangle counts and clustering
coefficients, k-core peeling, label propagation, HITS, modularity,
shortest paths, link prediction, plus recursive reachability as a
recursive CTE.

Iterative algorithms are unrolled a fixed number of rounds in exact
fixed-point integer arithmetic, so every round is bit-identical to the
DuckDB oracle; docs/CROSS_ENGINE.md rules apply throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import dq
from etl_seattle_call_data_spark.operators.util import checkpoint, memo
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import (
    memo_basket_items,
    memo_copurchase_edges,
    memo_copurchase_pairs,
)
from etl_seattle_call_data_spark.sources.registry import load_table, load_tables


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (self-join bounded by basket size)


@register(
    "copurchase_part_pairs",
    "Market-basket analysis: the 20 part pairs most often bought in the "
    "same order. Self-equi-join of lineitem on orderkey with id "
    "inequality — candidate count is Σ(basket²) and baskets are ~7 "
    "lines, so the fan-out is bounded per order (never corpus²); one "
    "shuffle on the pair key with map-side partials, then TakeOrdered "
    "top-20 (ties broken by the pair ids, no global sort).",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pair-count table is shared (token-memoized) with the whole
    # market-basket family: association rules, PageRank, triangles
    prs = memo_copurchase_pairs(spark, sf_dir)
    return (
        prs.select("part_a", "part_b", F.col("n_ab").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
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
    # oriented edge list or the degree join runs twice. Heap: the key
    # holds 24 MB of live driver heap (tools/memo_audit.py, sf0.1), about
    # 17 MB of it the cached edge list (8.6 MB by the block manager), the
    # rest the two broadcast degree tables (one row per part: 20k rows,
    # 1.2 MB each). They stay broadcast: hinting both degree joins to
    # shuffle moves the edge table twice, and measured 7.0 s against
    # 5.8 s for the query, best of 3.
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


@register(
    "shortest_path_bellman_ford",
    "Cheapest-path distances from the smallest part in the co-purchase "
    "graph, 3 Bellman-Ford relaxation rounds — the WEIGHTED companion "
    "to the recursive-CTE BFS: edge cost is 10^6 DIV co-purchase count "
    "(rarely-bought-together = expensive), all arithmetic exact "
    "integers so both engines agree bit-for-bit. Spark runs the "
    "canonical relax loop: distances join the CACHED mirrored edge "
    "list (one shuffle to build, reused all rounds — distances move, "
    "edges don't), union, min per node; the frontier frame is bounded "
    "by node count, never edges x rounds. The oracle unrolls the same "
    "3 rounds as CTEs. Top-50 nearest with full tie-break.",
    """
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS MATERIALIZED (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS MATERIALIZED (
      SELECT part_a AS src, part_b AS dst, 1000000 // n_ab AS w FROM prs
      UNION ALL
      SELECT part_b AS src, part_a AS dst, 1000000 // n_ab AS w FROM prs
    ),
    s AS MATERIALIZED (SELECT MIN(part_a) AS sid FROM prs),
    d0 AS MATERIALIZED (SELECT sid AS node, CAST(0 AS BIGINT) AS d FROM s),
    d1 AS MATERIALIZED (SELECT node, MIN(d) AS d FROM (
             SELECT node, d FROM d0
             UNION ALL
             SELECT e.dst AS node, d0.d + e.w AS d
             FROM edges e JOIN d0 ON d0.node = e.src
           ) GROUP BY node),
    d2 AS MATERIALIZED (SELECT node, MIN(d) AS d FROM (
             SELECT node, d FROM d1
             UNION ALL
             SELECT e.dst AS node, d1.d + e.w AS d
             FROM edges e JOIN d1 ON d1.node = e.src
           ) GROUP BY node),
    d3 AS MATERIALIZED (SELECT node, MIN(d) AS d FROM (
             SELECT node, d FROM d2
             UNION ALL
             SELECT e.dst AS node, d2.d + e.w AS d
             FROM edges e JOIN d2 ON d2.node = e.src
           ) GROUP BY node)
    SELECT node AS part, CAST(d AS BIGINT) AS dist_fp
    FROM d3 ORDER BY dist_fp, part LIMIT 50
    """,
)
def q_shortest_path_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared src-partitioned symmetric edge cache (see
    # memo_copurchase_edges): each relax round's join on src reads the
    # cached partitioning — only the small dist frontier shuffles
    edges = memo_copurchase_edges(spark, sf_dir).select(
        "src", "dst", F.expr("1000000 DIV n_ab").alias("w")
    )
    src = memo_copurchase_pairs(spark, sf_dir).agg(F.min("part_a").alias("sid"))
    dist = src.select(F.col("sid").alias("node"), F.lit(0).cast("bigint").alias("d"))
    for _ in range(3):
        relaxed = edges.join(
            dist.select(F.col("node").alias("src"), "d"), "src"
        ).select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        dist = checkpoint(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
            # per-round lineage cut, same cadence as kcore_peeling_3round:
            # plan depth stays constant per round so the relax count can
            # grow without re-deriving every prior round's join
        )
    return (
        dist.select(F.col("node").alias("part"), F.col("d").alias("dist_fp"))
        .orderBy("dist_fp", "part")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Frequent triples with Apriori candidate pruning


@register(
    "frequent_triples_apriori",
    "Frequent 3-itemsets in the market baskets, Apriori-style: the "
    "triple stream (Σ C(basket,3), ~35 per 7-line basket — bounded "
    "fan-out, never items³) is PRUNED before its count shuffle by "
    "three broadcast semi-joins against the frequent-pair table (any "
    "triple with an infrequent sub-pair cannot be frequent — the "
    "Apriori monotonicity that makes itemset mining feasible at "
    "scale). Shares the cached basket-item and pair memos with the "
    "association-rule/PageRank/triangle family. Top-20 by support "
    "with full lexicographic tie-break.",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS n
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    fp AS (SELECT pa, pb FROM prs WHERE n >= 2),
    tri AS (
      -- fp rows are unique (pa, pb) pairs, so these INNER joins are
      -- exact semi-join prunes (no duplication) — spelled as joins
      -- rather than correlated EXISTS because DuckDB executed the
      -- triple-EXISTS form as per-row probes at sf1 (>40 min vs
      -- seconds; same rows either way)
      SELECT a.l_partkey AS ia, b.l_partkey AS ib, c.l_partkey AS ic
      FROM items a
      JOIN items b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
      JOIN fp f1 ON f1.pa = a.l_partkey AND f1.pb = b.l_partkey
      JOIN items c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
      JOIN fp f2 ON f2.pa = b.l_partkey AND f2.pb = c.l_partkey
      JOIN fp f3 ON f3.pa = a.l_partkey AND f3.pb = c.l_partkey
    )
    SELECT ia, ib, ic, support FROM (
      SELECT ia, ib, ic, CAST(COUNT(*) AS BIGINT) AS support,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, ia, ib, ic) AS rk
      FROM tri GROUP BY ia, ib, ic
    ) WHERE rk <= 20
    """,
)
def q_frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = memo_basket_items(spark, sf_dir)
    fp = memo_copurchase_pairs(spark, sf_dir).filter(F.col("n_ab") >= 2).select(
        "part_a", "part_b"
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ia"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ib"))
    c = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ic"))
    tri = (
        a.join(b, "ok")
        .filter(F.col("ib") > F.col("ia"))
        .join(c, "ok")
        .filter(F.col("ic") > F.col("ib"))
    )
    for cols in (("ia", "ib"), ("ib", "ic"), ("ia", "ic")):
        tri = tri.join(
            F.broadcast(
                fp.select(
                    F.col("part_a").alias(cols[0]), F.col("part_b").alias(cols[1])
                )
            ),
            list(cols),
            "left_semi",
        )
    return (
        tri.groupBy("ia", "ib", "ic")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.desc("support"), "ia", "ib", "ic")
        .limit(20)
        .select("ia", "ib", "ic", "support")
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph


@register(
    "degree_assortativity",
    "Degree assortativity of the co-purchase graph — the Pearson "
    "correlation of endpoint degrees over all (mirrored) edges, the "
    "graph-science number that says whether hubs attach to hubs "
    "(assortative, r>0) or to leaves (disassortative, r<0). Starts "
    "from the session-shared src-partitioned edge cache "
    "(plans/shared.memo_copurchase_edges) like the rest of the graph "
    "family, so the degree groupBy(src) and the src-side join satisfy "
    "their distribution straight from the cache — zero fact-scale "
    "edge shuffles; the node-scale degree table broadcasts onto the "
    "dst side. The five moments accumulate as exact DECIMAL(38,0) in "
    "one aggregate, and the final r is the single-pass correlation "
    "formula — one IEEE division of identical integers (same contract "
    "as corr_matrix_lineitem).",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS (
      SELECT part_a AS src, part_b AS dst FROM prs
      UNION ALL
      SELECT part_b AS src, part_a AS dst FROM prs
    ),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ed AS (
      SELECT ds.d AS dx, dd.d AS dy
      FROM edges e JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
             SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
             SUM(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(dy * dy AS DECIMAL(38,0))) AS syy
      FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0) AS assortativity
    FROM m
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = memo_copurchase_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst")
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("dy").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast("decimal(38,0)")).alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        # NULLIF guard (CROSS_ENGINE rule 40): a regular (constant-
        # degree) or empty graph zeroes a variance; ANSI throws on /0
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.nullif(
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
                F.lit(0.0),
            )
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# k-core peeling (3 rounds, k=3)


@register(
    "kcore_peeling_3round",
    "3-core peeling of the co-purchase graph, 3 synchronous rounds, "
    "computed as DELTA peeling: degrees are seeded once from the "
    "shared src-partitioned edge cache, then each round subtracts the "
    "degree LOSS — the per-src count of edges into that round's "
    "newly-removed node set (broadcast semi-join on the CACHED edge "
    "frame) — from the node-scale degree frame. Equivalent to the "
    "textbook edges-among-survivors recursion (each alive node loses "
    "exactly its edges into removed neighbours, edges between two "
    "removed nodes never touch an alive degree; zero-degree survivors "
    "are dropped at the end, matching the groupBy-over-edges form) "
    "but the iterating STATE is node-scale: the edge frame is scanned "
    "per round yet never re-materialized, vs 3 edge-scale "
    "localCheckpoint copies in the filter-the-edges formulation — "
    "13.9 s → 2.7 s at sf1. The oracle unrolls the textbook rounds as "
    "CTEs. Output: surviving core size, edge count, and min degree "
    "(≥3 iff converged within 3 rounds).",
    """
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS MATERIALIZED (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    e0 AS MATERIALIZED (
      SELECT part_a AS src, part_b AS dst FROM prs
      UNION ALL SELECT part_b, part_a FROM prs
    ),
    d0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM e0 GROUP BY src),
    s1 AS MATERIALIZED (SELECT node FROM d0 WHERE d >= 3),
    e1 AS MATERIALIZED (SELECT src, dst FROM e0
           WHERE src IN (SELECT node FROM s1) AND dst IN (SELECT node FROM s1)),
    d1 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM e1 GROUP BY src),
    s2 AS MATERIALIZED (SELECT node FROM d1 WHERE d >= 3),
    e2 AS MATERIALIZED (SELECT src, dst FROM e1
           WHERE src IN (SELECT node FROM s2) AND dst IN (SELECT node FROM s2)),
    d2 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM e2 GROUP BY src),
    s3 AS MATERIALIZED (SELECT node FROM d2 WHERE d >= 3),
    e3 AS MATERIALIZED (SELECT src, dst FROM e2
           WHERE src IN (SELECT node FROM s3) AND dst IN (SELECT node FROM s3)),
    d3 AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e3 GROUP BY src)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
           CAST(COALESCE(SUM(d), 0) // 2 AS BIGINT) AS n_core_edges,
           CAST(COALESCE(MIN(d), 0) AS BIGINT) AS min_core_degree
    FROM d3
    """,
)
def q_kcore_peeling_3round(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared src-partitioned symmetric edge cache (memo_copurchase_edges):
    # scanned once per round below, never copied — the only frames that
    # iterate (and checkpoint) are node-scale degree tables.
    edges = memo_copurchase_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    for _ in range(3):
        # node-scale lineage cut: deg feeds BOTH branches (removed set
        # + alive set) every round — without it the whole prefix would
        # re-execute 2^rounds times. Cheap: |nodes| rows, not |edges|.
        deg = checkpoint(deg)
        removed = deg.filter(F.col("d") < 3).select("node")
        alive = deg.filter(F.col("d") >= 3)
        # Degree loss = edges into THIS round's removed set. The removed
        # frame is node-scale → AQE broadcasts it, so the cached edge
        # frame is filtered in place (src partitioning preserved) and
        # the groupBy(src) needs no Exchange. Nodes removed in earlier
        # rounds can't re-lose edges: `removed` holds only this round's
        # casualties, and their own rows left `deg` the round they fell.
        loss = (
            edges.join(
                removed.withColumnRenamed("node", "dst"), "dst", "left_semi"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("lost"))
        )
        deg = alive.join(loss, "node", "left").select(
            "node",
            (F.col("d") - F.coalesce(F.col("lost"), F.lit(0))).alias("d"),
        )
    # survivors whose edges all fell keep d = 0; the edges-among-
    # survivors formulation (and the oracle's groupBy over e3) never
    # emits them, so drop zero-degree rows before the rollup.
    d3 = deg.filter(F.col("d") >= 1)
    return d3.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"),
        F.expr("CAST(COALESCE(SUM(d), 0) DIV 2 AS BIGINT)").alias("n_core_edges"),
        F.coalesce(F.min("d"), F.lit(0)).cast("bigint").alias("min_core_degree"),
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
    # each would re-scan the labeled edges. Heap: 4 MB of live driver
    # heap (tools/memo_audit.py, sf0.1); its one broadcast is the part
    # brand lookup (20k rows, 1.2 MB). The edge table it reads is
    # basket:pairs' cache, charged to that key.
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
# Label propagation communities (2 semi-synchronous rounds)
# ---------------------------------------------------------------------------

_LPA_PAIRS_CTE = """
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS (
      SELECT part_a AS u, part_b AS v, n_ab AS w FROM pairs
      UNION ALL
      SELECT part_b, part_a, n_ab FROM pairs
    )
"""


@register(
    "label_propagation_2round",
    "Community detection on the co-purchase graph: 2 unrolled rounds of "
    "weighted label propagation. A node adopts the neighbor label with "
    "the highest total edge weight; argmax is the collision-free BIGINT "
    "encode sum_w*1e9 + (1e9-1-label) (CROSS_ENGINE rule 23's composite-"
    "arg_max workaround; headroom needs sum_w < 9e9 and label < 1e9 — "
    "holds through sf10, promote to DECIMAL beyond). Each round is one "
    "edges-join-labels shuffle + one (node, label) agg — labels move, "
    "the mirrored edge list (from the shared basket-pair memo) stays "
    "put. Output: 20 largest communities, deterministic tiebreak.",
    f"""
    WITH {_LPA_PAIRS_CTE},
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
    l1 AS (
      SELECT node, CAST(999999999 - (max(enc) % 1000000000) AS BIGINT) AS label
      FROM (SELECT e.u AS node, l.label,
                   CAST(SUM(e.w) AS BIGINT) * 1000000000
                   + (999999999 - l.label) AS enc
            FROM edges e JOIN l0 l ON l.node = e.v
            GROUP BY e.u, l.label)
      GROUP BY node
    ),
    l2 AS (
      SELECT node, CAST(999999999 - (max(enc) % 1000000000) AS BIGINT) AS label
      FROM (SELECT e.u AS node, l.label,
                   CAST(SUM(e.w) AS BIGINT) * 1000000000
                   + (999999999 - l.label) AS enc
            FROM edges e JOIN l1 l ON l.node = e.v
            GROUP BY e.u, l.label)
      GROUP BY node
    )
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT 20
    """,
)
def q_label_propagation_2round(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared src-partitioned symmetric edge cache: the edge set is
    # invariant under (u,v) swap with equal weights, so "join labels on
    # v, group by u" equals "join labels on u, group by v" — the latter
    # reads the cached src partitioning (no edge shuffle per round; only
    # the node-scale label frame and the vote rollup move)
    edges = memo_copurchase_edges(spark, sf_dir).selectExpr(
        "src AS u", "dst AS v", "n_ab AS w"
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(2):
        votes = (
            edges.join(labels, edges.u == labels.node)
            .groupBy(edges.v.alias("node2"), "label")
            .agg(
                (
                    F.sum("w").cast("bigint") * F.lit(1000000000)
                    + (F.lit(999999999) - F.col("label"))
                ).alias("enc")
            )
        )
        labels = (
            votes.groupBy(F.col("node2").alias("node"))
            .agg(
                (F.lit(999999999) - (F.max("enc") % F.lit(1000000000)))
                .cast("bigint")
                .alias("label")
            )
        )
        # no per-round checkpoint: each generation has exactly ONE
        # consumer (next round's join, then the final rollup), so there
        # is no duplicate evaluation to cut, and at 2 unrolled rounds the
        # lineage depth is constant — the barrier only cost wall-clock
        # (r10 A/B: 2.31s -> 2.06s best-of-3, identical output). Deep
        # UNBOUNDED loops still need the checkpoint (see
        # dedup.connected_components).
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (2 exact integer iterations)
# ---------------------------------------------------------------------------


@register(
    "hits_hubs_authorities",
    "HITS on the bipartite customer->part purchase graph, 2 exact "
    "integer iterations from h0=1: a1(p) = in-degree, h1(c) = sum of "
    "a1 over c's parts, a2(p) = sum of h1 over p's buyers — all exact "
    "BIGINT sums (normalization deferred to a final ppm DIV by the max, "
    "the libm-free HITS variant; at web scale normalize per round in "
    "fixed point to bound magnitudes — a2 here stays < ~1e12 through "
    "sf10). Each iteration is one edge-keyed join + agg over the "
    "distinct (customer, part) edge list. Top 20 authorities, "
    "deterministic tiebreak; the ppm divisor is the max over those 20.",
    """
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM edges GROUP BY p),
    h1 AS (
      SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM edges e JOIN a1 ON a1.p = e.p
      GROUP BY e.c
    ),
    a2 AS (
      SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM edges e JOIN h1 ON h1.c = e.c
      GROUP BY e.p
    ),
    mx AS (SELECT CAST(MAX(a) AS BIGINT) AS m FROM a2)
    SELECT p AS part_key, a AS authority,
           CAST(a * 1000000 // m AS BIGINT) AS authority_ppm
    FROM a2 CROSS JOIN mx
    ORDER BY authority DESC, part_key
    LIMIT 20
    """,
)
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The bipartite edge list feeds THREE consumers (a1's groupBy, h1's
    # join, a2's join) — without a persist the lineitem⋈orders⋈distinct
    # prefix executes once per branch. Memoized like the copurchase
    # edge cache (plans/shared.py): build once per corpus per session.
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        # Shuffled by hint: orders scales with SF. At sf0.1 its 150k rows
        # fit the broadcast threshold, and this memo then pinned the hash
        # relation: tools/memo_audit.py measured the key at 22.9 MB of
        # live heap, 9.4 MB shuffled, with the query no slower.
        o = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
            )
            .distinct()
        )

    edges = memo("hits:edges", build, token=("hits:edges", sf_dir))
    a1 = edges.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = (
        edges.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a").cast("bigint").alias("h"))
    )
    a2 = edges.join(h1, "c").groupBy("p").agg(F.sum("h").cast("bigint").alias("a"))
    # The largest authority is the first of the 20 kept rows, so the
    # ppm divisor is a window max over those 20 and a2 has one consumer,
    # which needs no barrier. Against a checkpointed a2 feeding a 1-row
    # max branch (sf0.1, local[4], 6 alternating fresh processes, build
    # + digest, identical digests, medians): build jobs 11 -> 0, cold
    # 9.98 -> 9.24 s (faster in 4 of 6 pairs), warm 1.71 -> 1.58 s (5
    # of 6).
    return (
        a2.orderBy(F.desc("a"), "p")
        .limit(20)
        .selectExpr(
            "p AS part_key",
            "a AS authority",
            "CAST(a * 1000000 DIV max(a) OVER () AS BIGINT) AS authority_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficients for the highest-degree nodes
# ---------------------------------------------------------------------------


@register(
    "local_clustering_top_degree",
    "Per-node local clustering coefficient for the 20 highest-degree "
    "parts of the co-purchase graph (global triangle count + average "
    "coefficient live in triangle_count_copurchase; this is the "
    "node-level diagnostic). Adjacency-array form: neighbor lists "
    "build with one groupBy; for each probe node, triangles(v) = "
    "sum over neighbors u of |N(v) ∩ N(u)| / 2 via array_intersect on "
    "the exploded 20-node probe set — work is bounded by "
    "20 x max_degree array intersections, never all-pairs. cc_ppm = "
    "sum_inter * 1e6 DIV (d*(d-1)) stays exact integer. Tie-break on "
    "part key.",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    adj AS (
      SELECT u AS node, list(v ORDER BY v) AS nbrs,
             CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY u
    ),
    probes AS (
      SELECT node, nbrs, deg FROM adj
      ORDER BY deg DESC, node LIMIT 20
    ),
    inter AS (
      SELECT p.node, p.deg,
             CAST(SUM(len(list_intersect(p.nbrs, a.nbrs))) AS BIGINT)
               AS sum_inter
      FROM (SELECT node, deg, nbrs, unnest(nbrs) AS nb FROM probes) p
      JOIN adj a ON a.node = p.nb
      GROUP BY p.node, p.deg
    )
    SELECT node AS part_key, deg AS degree,
           CAST(sum_inter // 2 AS BIGINT) AS n_triangles,
           CAST(sum_inter * 1000000 // NULLIF(deg * (deg - 1), 0) AS BIGINT)
             AS clustering_ppm
    FROM inter
    ORDER BY degree DESC, part_key
    """,
)
def q_local_clustering_top_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mirrored adjacency straight off the session-shared src-partitioned
    # edge cache: both consumers below (top-degree probes + neighbor
    # probe table) re-derive from it, and the collect_list groupBy needs
    # no Exchange because the cache is already hash-partitioned on src
    edges = memo_copurchase_edges(spark, sf_dir).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    adj = edges.groupBy(F.col("u").alias("node")).agg(
        F.sort_array(F.collect_list("v")).alias("nbrs"),
        F.count(F.lit(1)).cast("bigint").alias("deg"),
    )
    probes = adj.orderBy(F.desc("deg"), "node").limit(20)
    probe_nbrs = probes.select(
        "node", "deg", "nbrs", F.explode("nbrs").alias("nb")
    )
    a2 = adj.select(F.col("node").alias("nb"), F.col("nbrs").alias("nbrs2"))
    inter = (
        probe_nbrs.join(a2, "nb")
        .groupBy("node", "deg")
        .agg(
            F.sum(F.size(F.array_intersect(F.col("nbrs"), F.col("nbrs2"))))
            .cast("bigint")
            .alias("sum_inter")
        )
    )
    return inter.selectExpr(
        "node AS part_key",
        "deg AS degree",
        "CAST(sum_inter DIV 2 AS BIGINT) AS n_triangles",
        # NULLIF guard (rule 40): a degree-1 probe zeroes deg*(deg-1)
        "CAST(sum_inter * 1000000 DIV NULLIF(deg * (deg - 1), 0) AS BIGINT)"
        " AS clustering_ppm",
    ).orderBy(F.desc("degree"), "part_key")


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
