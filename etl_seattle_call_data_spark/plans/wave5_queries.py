"""Round-4 second wave: advanced analytics + storage-layout operators.

Sliding-window distinct counting by interval decomposition, leave-one-
out target encoding, skip-gram co-occurrence, a single-pass Pearson
correlation matrix, Z-order layout + zone-map pruning evidence, a
Bloom-filter build with a MEASURED false-positive rate, distributed PCA
power iteration in fixed point, and Merkle-style replica divergence
detection.

Cross-engine rules per docs/CROSS_ENGINE.md: exact integer/decimal math
until one final IEEE op per ratio; fixed-point DIV instead of libm;
md5-derived portable hashing (conv(substr(md5(x),1,15),16,10) ≡ DuckDB
('0x'||substr(md5(x),1,15))::BIGINT); every computed column aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dq, text
from etl_seattle_call_data_spark.operators.util import checkpoint, memo, spread
from etl_seattle_call_data_spark.plans.docs_queries import _DUCK_COS, _DUCK_Q, _DUCK_TOKENS
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# Sliding-window distinct users (7-day) via interval decomposition


@register(
    "sliding_distinct_users_7d",
    "Rolling 7-day distinct users per day — the metric a naive plan "
    "computes with a per-day DISTINCT re-scan (7x the data) or a "
    "sliding-window COUNT(DISTINCT) Spark cannot express. Interval "
    "decomposition makes it ONE linear pass: dedupe (user, day), take "
    "each activity day's successor with lead(), and the user then "
    "covers window-ends [day, min(day+6, next_day-1)] — disjoint per "
    "user, so a bounded <=7x explode + plain COUNT(*) per window-end "
    "IS the distinct count, no second dedupe. Shuffles: the (user,day) "
    "dedupe, the per-user lead window (per-user timelines, full "
    "parallelism), the final day rollup. The global max-day cap is a "
    "one-row broadcast. Survives 100x: fan-out is bounded by the "
    "window length, state by (user, day) pairs, never raw events.",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS INTEGER) AS day
      FROM events
    ),
    mx AS (SELECT MAX(day) AS mxd FROM ud),
    iv AS (
      SELECT user_id, day,
             LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nd
      FROM ud
    ),
    cov AS (
      SELECT unnest(range(day,
               least(least(day + 6, COALESCE(nd - 1, day + 6)), mx.mxd) + 1))
               AS window_end
      FROM iv CROSS JOIN mx
    )
    SELECT CAST(window_end AS INTEGER) AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_active_7d
    FROM cov
    GROUP BY window_end
    ORDER BY window_end
    """,
)
def q_sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("day"),
    ).distinct()
    mx = ud.agg(F.max("day").alias("mxd"))
    iv = ud.withColumn(
        "nd", F.lead("day").over(Window.partitionBy("user_id").orderBy("day"))
    )
    ub = F.least(
        F.least(F.col("day") + 6, F.coalesce(F.col("nd") - 1, F.col("day") + 6)),
        F.col("mxd"),
    )
    cov = iv.crossJoin(F.broadcast(mx)).select(
        F.explode(F.sequence(F.col("day"), ub)).alias("window_end")
    )
    return (
        cov.groupBy(F.col("window_end").cast("int").alias("window_end"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active_7d"))
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (ML feature engineering)


@register(
    "target_encoding_loo",
    "Leave-one-out target encoding of part brand against the return "
    "flag — the high-cardinality-categorical encoder that leaks without "
    "the leave-one-out correction. Exact fixed point: per-row encoding "
    "is ((group_positives - own_target) * 10^6) DIV (group_n - 1); the "
    "evidence output folds the per-row encodings back to per-brand "
    "integer sums split by target class. Plan: one fact-side join to "
    "the part dim (AQE-broadcast), one 25-row group-stats aggregate "
    "explicitly broadcast back into the fact stream (NO window over "
    "the low-cardinality brand key — the skew hazard class VERDICT r3 "
    "flagged), one final rollup. Survives 100x: the fact table streams "
    "through map-side joins; only 25-row stats move.",
    """
    WITH j AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS t
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st
      FROM j GROUP BY brand
    ),
    e AS (
      SELECT j.brand, j.t, g.n, g.st,
             ((g.st - j.t) * 1000000) // NULLIF(g.n - 1, 0) AS loo_fp
      FROM j JOIN g USING (brand)
    )
    SELECT brand,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(st) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(CASE WHEN t = 1 THEN loo_fp END), 0) AS BIGINT)
             AS sum_enc_pos,
           CAST(COALESCE(SUM(CASE WHEN t = 0 THEN loo_fp END), 0) AS BIGINT)
             AS sum_enc_neg
    FROM e
    GROUP BY brand
    """,
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("t"),
    )
    g = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
    )
    e = j.join(F.broadcast(g), "brand").withColumn(
        "loo_fp", F.expr("((st - t) * 1000000) DIV NULLIF(n - 1, 0)")
    )
    return e.groupBy("brand").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max("st").cast("bigint").alias("n_pos"),
        F.coalesce(F.sum(F.when(F.col("t") == 1, F.col("loo_fp"))), F.lit(0))
        .cast("bigint")
        .alias("sum_enc_pos"),
        F.coalesce(F.sum(F.when(F.col("t") == 0, F.col("loo_fp"))), F.lit(0))
        .cast("bigint")
        .alias("sum_enc_neg"),
    )


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence (word2vec-style context pairs)


@register(
    "skipgram_cooccurrence",
    "Skip-gram (center, context) pair counts within a +1..+2 token "
    "window — the co-occurrence table word2vec/GloVe training data "
    "starts from. The window join is an EQUI-join: each position row "
    "fans out to exactly two probe keys (pos+1, pos+2), so candidate "
    "volume is 2x the token count — never positions², and the band "
    "predicate never degrades to a cartesian. One shuffle on "
    "(doc_id, pos), partial-aggregated pair counts, 30-row top-k with "
    "full tie-break (TakeOrdered, no global sort).",
    f"""
    WITH tp AS (
      SELECT doc_id, i AS pos, toks[i + 1] AS tok
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
           unnest(range(0, len(toks))) AS t(i)
    ),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b
      FROM tp a JOIN tp b
        ON b.doc_id = a.doc_id AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)
    )
    SELECT tok_a, tok_b, n FROM (
      SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok_a, tok_b) AS rk
      FROM pairs GROUP BY tok_a, tok_b
    ) WHERE rk <= 30
    """,
)
def q_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    # NOTE: tp feeds two plan branches (probe fan-out + join arm), but
    # deliberately stays un-persisted — the subtree is a cheap
    # scan+split+posexplode that pipelines into each consumer's shuffle
    # write, and a persist barrier measured SLOWER at both sf0.1 and
    # sf1 (the materialization costs more than the re-tokenize; the
    # (doc_id, ppos) join shuffle dominates either way).
    tp = docs.select(
        "doc_id", F.posexplode(text.tokens(F.col("text"))).alias("pos", "tok")
    )
    probes = tp.select(
        "doc_id",
        F.col("tok").alias("tok_a"),
        F.explode(F.array(F.col("pos") + 1, F.col("pos") + 2)).alias("ppos"),
    )
    pairs = probes.join(
        tp.select("doc_id", F.col("pos").alias("ppos"), F.col("tok").alias("tok_b")),
        ["doc_id", "ppos"],
    )
    counts = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        counts.orderBy(F.col("n").desc(), "tok_a", "tok_b")
        .limit(30)
        .select("tok_a", "tok_b", "n")
    )


# ---------------------------------------------------------------------------
# Single-pass Pearson correlation matrix


def _corr_pair(a: str, b: str) -> str:
    """Engine-shared correlation expression over the one-row moment CTE:
    r = (n·Sab − Sa·Sb) / (sqrt(n·Saa − Sa²) · sqrt(n·Sbb − Sb²)), every
    moment an exact DECIMAL(38,0) integer, ONE double division at the
    end (sqrt is IEEE-correctly-rounded per CROSS_ENGINE rule 8)."""
    return (
        f"CAST(n * s_{a}{b} - s_{a} * s_{b} AS DOUBLE) / "
        f"(sqrt(CAST(n * s_{a}{a} - s_{a} * s_{a} AS DOUBLE)) * "
        f"sqrt(CAST(n * s_{b}{b} - s_{b} * s_{b} AS DOUBLE)))"
    )


_CORR_COLS = {"q": "l_quantity", "e": "l_extendedprice", "d": "l_discount", "t": "l_tax"}
_CORR_PAIRS = [("q", "e"), ("q", "d"), ("q", "t"), ("e", "d"), ("e", "t"), ("d", "t")]


@register(
    "corr_matrix_lineitem",
    "Pearson correlation matrix over the four lineitem measures "
    "(quantity, extendedprice, discount, tax) from ONE aggregation "
    "pass: each measure quantizes to round(x·100) BIGINT, all 14 "
    "moments (n, 4 sums, 4 squares, 6 cross-products) accumulate as "
    "exact DECIMAL(38,0) in a single map-side-combined agg — the "
    "6-pair matrix is then 6 constant-time projections of the one-row "
    "moment frame. No shuffle beyond the scalar agg; a naive per-pair "
    "corr() would scan the fact table 6 times. Survives 100x: moment "
    "magnitudes stay under 10^38 to ~10^9 rows; beyond that the "
    "docstring contract is per-partition pre-centering (two-pass "
    "stable covariance), same output columns.",
    f"""
    WITH qz AS (
      SELECT {", ".join(f"CAST(round({col} * 100) AS BIGINT) AS {k}" for k, col in _CORR_COLS.items())}
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             {", ".join(f"SUM(CAST({k} AS DECIMAL(38,0))) AS s_{k}" for k in _CORR_COLS)},
             {", ".join(f"SUM(CAST({a} * {b} AS DECIMAL(38,0))) AS s_{a}{b}" for a, b in [(x, x) for x in _CORR_COLS] + _CORR_PAIRS)}
      FROM qz
    )
    {" UNION ALL ".join(
        f"SELECT '{_CORR_COLS[a]}' AS col_a, '{_CORR_COLS[b]}' AS col_b, {_corr_pair(a, b)} AS corr_r FROM m"
        for a, b in _CORR_PAIRS
    )}
    """,
)
def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qz = li.select(
        *[
            F.round(F.col(col) * 100).cast("bigint").alias(k)
            for k, col in _CORR_COLS.items()
        ]
    )
    m = qz.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        *[F.sum(F.col(k).cast("decimal(38,0)")).alias(f"s_{k}") for k in _CORR_COLS],
        *[
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).alias(f"s_{a}{b}")
            for a, b in [(x, x) for x in _CORR_COLS] + _CORR_PAIRS
        ],
    )
    # ONE aggregate feeding all 6 pairs: the matrix rows explode out of
    # a struct array built over the single one-row moment frame — a
    # 6-way UNION of SELECTs would re-plan (and re-scan) the aggregate
    # per branch unless ReusedExchange rescued it at runtime.
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(_CORR_COLS[a]).alias("col_a"),
                F.lit(_CORR_COLS[b]).alias("col_b"),
                F.expr(_corr_pair(a, b)).alias("corr_r"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return m.select(F.explode(pair_structs).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr_r"
    )


# ---------------------------------------------------------------------------
# Z-order layout + zone-map pruning evidence


def _morton(div: str) -> str:
    """8-bit×8-bit Morton interleave of columns x, y as pure integer
    arithmetic (bit i via (v {div} 2^i) % 2 — no engine-specific shift
    operators). ``div`` is 'DIV' for Spark, '//' for DuckDB."""
    return " + ".join(
        f"(((x {div} {2**i}) % 2) + 2 * ((y {div} {2**i}) % 2)) * {4**i}"
        for i in range(8)
    )


@register(
    "zorder_layout_stats",
    "Z-order (Morton curve) data layout vs single-dimension layout, "
    "judged by ZONE-MAP PRUNING: orders map to (x = custkey bucket, "
    "y = order-day bucket), files are 256 contiguous ranges of either "
    "the interleaved z-value or the day value, and each layout reports "
    "how many files a custkey-range predicate (x BETWEEN 16 AND 31) "
    "must scan given per-file min/max zone maps — the physical-design "
    "operator behind Delta/Iceberg OPTIMIZE ZORDER. The interleave is "
    "pure integer arithmetic (no engine shift ops), per-file stats are "
    "one groupBy per layout, and the verdict is a 2-row table: z-order "
    "prunes ~15/16 of files on the non-leading dimension, the day "
    "layout scans everything. Survives 100x: file stats are bounded "
    "(256 rows), the fact stream is one projection pass per layout.",
    f"""
    WITH xy AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  % 256 AS BIGINT) AS y
      FROM orders
    ),
    z AS (SELECT x, y, CAST({_morton("//")} AS BIGINT) AS zval FROM xy),
    files AS (
      SELECT 'zorder' AS layout, zval // 256 AS file_id,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM z GROUP BY zval // 256
      UNION ALL
      SELECT 'day_linear' AS layout, y AS file_id,
             MIN(x) AS min_x, MAX(x) AS max_x
      FROM z GROUP BY y
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN max_x >= 16 AND min_x <= 31 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_files_scanned,
           CAST(SUM(CASE WHEN max_x >= 16 AND min_x <= 31 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS scan_frac_fp
    FROM files
    GROUP BY layout
    """,
)
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    xy = o.select(
        (F.col("o_custkey") % 256).cast("bigint").alias("x"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 256
        ).cast("bigint").alias("y"),
    )
    z = xy.select("x", "y", F.expr(_morton("DIV")).cast("bigint").alias("zval"))
    zf = z.groupBy(F.expr("zval DIV 256").alias("file_id")).agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x")
    ).select(F.lit("zorder").alias("layout"), "min_x", "max_x")
    lf = z.groupBy(F.col("y").alias("file_id")).agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x")
    ).select(F.lit("day_linear").alias("layout"), "min_x", "max_x")
    files = zf.unionByName(lf)
    hit = F.when((F.col("max_x") >= 16) & (F.col("min_x") <= 31), 1).otherwise(0)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(hit).cast("bigint").alias("n_files_scanned"),
        F.expr(
            "CAST(SUM(CASE WHEN max_x >= 16 AND min_x <= 31 THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("scan_frac_fp"),
    )


# ---------------------------------------------------------------------------
# Bloom filter build + MEASURED false-positive rate


_BLOOM_BITS = 65536


@register(
    "bloom_filter_fp_eval",
    "Build a 2^16-bit / 2-hash Bloom filter over urgent-order customer "
    "keys and MEASURE its false-positive rate by probing every "
    "customer — the sketch-eval pattern (LSH recall, IVF recall@5) "
    "applied to the filter that guards 100 TB shuffle joins. Hashes "
    "are portable md5-derived integers (salted ':b1'/':b2'), the set "
    "bit list is a bounded DISTINCT (≤2·|members| rows) that "
    "BROADCASTS into two semi-join probes — the probe stream never "
    "shuffles, exactly how a runtime bloom prunes a fact scan. Output "
    "is one row of exact counts + the measured FP rate over true "
    "non-members in fixed point, checkable against the (1-e^{-kn/m})^k "
    "analytic bound offline.",
    f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT ('0x' || substr(md5(CAST(k AS VARCHAR) || ':b1'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS pos FROM members
        UNION ALL
        SELECT ('0x' || substr(md5(CAST(k AS VARCHAR) || ':b2'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS pos FROM members
      )
    ),
    probes AS (
      SELECT c_custkey AS k,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':b1'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS h1,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':b2'), 1, 15))::BIGINT
               % {_BLOOM_BITS} AS h2
      FROM customer
    ),
    hits AS (
      SELECT k FROM probes
      WHERE h1 IN (SELECT pos FROM bits) AND h2 IN (SELECT pos FROM bits)
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_pass,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
    )
    SELECT n_members, n_probes, n_pass, n_bits_set,
           n_pass - n_members AS n_false_pos,
           CAST((n_pass - n_members) * 1000000
                // NULLIF(n_probes - n_members, 0) AS BIGINT) AS fp_rate_fp
    FROM agg
    """,
)
def q_bloom_filter_fp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def h(col, salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_BITS
        )

    members = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = (
        members.select(h(F.col("k"), ":b1").alias("pos"))
        .unionByName(members.select(h(F.col("k"), ":b2").alias("pos")))
        .distinct()
    )
    probes = cust.select(
        F.col("c_custkey").alias("k"),
        h(F.col("c_custkey"), ":b1").alias("h1"),
        h(F.col("c_custkey"), ":b2").alias("h2"),
    )
    hits = probes.join(
        F.broadcast(bits.withColumnRenamed("pos", "h1")), "h1", "left_semi"
    ).join(F.broadcast(bits.withColumnRenamed("pos", "h2")), "h2", "left_semi")
    agg = dq.scalar_join(
        members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members")),
        probes.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes")),
        hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass")),
        bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set")),
    )
    return agg.select(
        "n_members",
        "n_probes",
        "n_pass",
        "n_bits_set",
        (F.col("n_pass") - F.col("n_members")).alias("n_false_pos"),
        F.expr(
            "CAST((n_pass - n_members) * 1000000"
            " DIV NULLIF(n_probes - n_members, 0) AS BIGINT)"
        ).alias("fp_rate_fp"),
    )


# ---------------------------------------------------------------------------
# Distributed PCA: power iteration for the top principal direction


@register(
    "power_iteration_top_eigen",
    "Top principal direction of the embedding corpus via TWO power "
    "iterations of the (uncentered) Gram matrix — the distributed PCA "
    "step — without ever materializing the d×d Gram: each iteration is "
    "v ← normalize(Xᵀ(Xv)), two joins + two aggregates over the "
    "posexploded (vec, dim, q) triples. CROSS-ENGINE EXACT in fixed "
    "point: q = round(x·1000), the per-vector projection t = Σ q·v "
    "DIV 1000, the per-dimension image y = Σ q·t, and normalization "
    "is (y·1000) DIV max|y| (one bounded scalar broadcast per "
    "iteration, IVF-codebook class). The 64-row v broadcasts into the "
    "triple stream; the corpus shuffles only on vec_id then dim — "
    "the same plan at 10^9 vectors (|y| ≤ n·6.4·10^7 keeps BIGINT "
    "exact to n ≈ 10^11). Oracle unrolls both iterations as CTEs.",
    """
    WITH q AS (
      SELECT vec_id, i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    ),
    t1 AS (SELECT vec_id, SUM(qv * 1000) // 1000 AS t FROM q GROUP BY vec_id),
    y1 AS (SELECT dim, CAST(SUM(qv * t) AS BIGINT) AS y
           FROM q JOIN t1 USING (vec_id) GROUP BY dim),
    m1 AS (SELECT MAX(abs(y)) AS my FROM y1),
    v1 AS (SELECT dim, (y * 1000) // my AS v FROM y1 CROSS JOIN m1),
    t2 AS (SELECT q.vec_id, SUM(q.qv * v1.v) // 1000 AS t
           FROM q JOIN v1 USING (dim) GROUP BY q.vec_id),
    y2 AS (SELECT dim, CAST(SUM(qv * t) AS BIGINT) AS y
           FROM q JOIN t2 USING (vec_id) GROUP BY dim),
    m2 AS (SELECT MAX(abs(y)) AS my FROM y2)
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST((y * 1000) // my AS BIGINT) AS v_fp
    FROM y2 CROSS JOIN m2
    ORDER BY dim
    """,
)
def q_power_iteration_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias("qv"),
    )

    def iterate(v: DataFrame | None) -> DataFrame:
        if v is None:
            t = q.groupBy("vec_id").agg(
                F.expr("SUM(qv * 1000) DIV 1000").alias("t")
            )
        else:
            t = (
                q.join(F.broadcast(v), "dim")
                .groupBy("vec_id")
                .agg(F.expr("SUM(qv * v) DIV 1000").alias("t"))
            )
        return q.join(t, "vec_id").groupBy("dim").agg(
            F.sum(F.col("qv") * F.col("t")).cast("bigint").alias("y")
        )

    # r11 NOTE (measured negative — do not "fix" again): y1/y2 are each
    # consumed twice (max-abs scalar + next projection), but
    # checkpointing them measured SLOWER twice in paired A/B (count
    # best-of-5: 1.90/2.31 s without vs 2.50/3.34 s with barriers).
    # Both consumers read the IDENTICAL (dim, y) aggregate — nothing to
    # prune differently below the exchange — so Spark's runtime
    # exchange reuse already dedupes the iteration; the barriers only
    # serialized it. Contrast shift_share/mahalanobis, where the two
    # branches prune DIFFERENT columns, reuse cannot fire, and the
    # checkpoint measured faster.
    y1 = iterate(None)
    m1 = y1.agg(F.max(F.abs(F.col("y"))).alias("my"))
    v1 = y1.crossJoin(F.broadcast(m1)).select(
        "dim", F.expr("(y * 1000) DIV my").alias("v")
    )
    y2 = iterate(v1)
    m2 = y2.agg(F.max(F.abs(F.col("y"))).alias("my"))
    return (
        y2.crossJoin(F.broadcast(m2))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.expr("CAST((y * 1000) DIV my AS BIGINT)").alias("v_fp"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Merkle-style replica divergence detection (bucket checksums)


@register(
    "replica_divergence_merkle",
    "Anti-entropy table sync: find which key-range buckets of a replica "
    "diverge from the primary by comparing per-bucket row counts + "
    "md5-digest checksums — the Merkle-tree repair primitive "
    "(Cassandra/Dynamo) that localizes a diff to O(diverged buckets) "
    "instead of re-shipping 100 TB. The 'replica' simulates row loss "
    "(orderkey % 97 = 0 dropped); BOTH sides come from ONE scan via "
    "conditional aggregates — no self-join, one shuffle on the "
    "256-bucket key. Checksums sum bounded md5 integers in "
    "DECIMAL(38,0) (overflow-free to ~10^19 rows/bucket), compared "
    "modulo 1e9+7 as BIGINT. Output: only the diverged buckets. At "
    "scale, bucket count grows with data (a tree of ranges), same "
    "plan shape per level.",
    """
    WITH d AS (
      SELECT o_orderkey % 256 AS bucket,
             CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END AS keep,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                                 CAST(o_custkey AS VARCHAR) || '|' ||
                                 CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                      AS VARCHAR)), 1, 15))::BIGINT AS dg
      FROM orders
    ),
    b AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_primary,
             CAST(SUM(keep) AS BIGINT) AS n_replica,
             SUM(CAST(dg AS DECIMAL(38,0))) AS chk_p,
             COALESCE(SUM(CASE WHEN keep = 1 THEN CAST(dg AS DECIMAL(38,0)) END),
                      CAST(0 AS DECIMAL(38,0))) AS chk_r
      FROM d GROUP BY bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_primary, n_replica,
           CAST(chk_p % 1000000007 AS BIGINT) AS chk_primary_mod,
           CAST(chk_r % 1000000007 AS BIGINT) AS chk_replica_mod
    FROM b
    WHERE n_primary <> n_replica OR chk_p <> chk_r
    """,
)
def q_replica_divergence_merkle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dg = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    d = o.select(
        (F.col("o_orderkey") % 256).alias("bucket"),
        F.when(F.col("o_orderkey") % 97 != 0, 1).otherwise(0).alias("keep"),
        dg.alias("dg"),
    )
    b = d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_primary"),
        F.sum("keep").cast("bigint").alias("n_replica"),
        F.sum(F.col("dg").cast("decimal(38,0)")).alias("chk_p"),
        F.coalesce(
            F.sum(F.when(F.col("keep") == 1, F.col("dg").cast("decimal(38,0)"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("chk_r"),
    )
    return b.filter(
        (F.col("n_primary") != F.col("n_replica")) | (F.col("chk_p") != F.col("chk_r"))
    ).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_primary",
        "n_replica",
        (F.col("chk_p") % 1000000007).cast("bigint").alias("chk_primary_mod"),
        (F.col("chk_r") % 1000000007).cast("bigint").alias("chk_replica_mod"),
    )


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (companion to timeseries_gapfill_locf)


@register(
    "timeseries_interpolate_linear",
    "Time-series gap filling by LINEAR interpolation between the "
    "nearest observed neighbors — the numeric upgrade over LOCF for "
    "sensor/metric series: missing (user, day) cells get "
    "v_prev + (v_next − v_prev)·(d − d_prev) DIV (d_next − d_prev) in "
    "exact fixed point (daily sums quantized to round(value·100)). The "
    "dense spine is generated (sequence+explode, never a source); prev/"
    "next neighbors come from 4 ignore-nulls window columns in ONE "
    "per-user window pass; series edges (no neighbor on one side) "
    "yield the −1 sentinel. Survives 100x: rows = users × horizon, one "
    "user-keyed shuffle, per-user timelines stay parallel.",
    """
    WITH spine AS (
      SELECT u.user_id, CAST(d.d AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (
        SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS d
      ) d
    ),
    daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT s.user_id, s.day,
             CAST(date_diff('day', DATE '1970-01-01', s.day) AS BIGINT) AS dd,
             daily.v
      FROM spine s LEFT JOIN daily
        ON s.user_id = daily.user_id AND s.day = daily.day
    ),
    nb AS (
      SELECT user_id, day, dd, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
             last_value(CASE WHEN v IS NOT NULL THEN dd END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
             first_value(CASE WHEN v IS NOT NULL THEN dd END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY dd
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
      FROM j
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           v IS NOT NULL AS observed,
           CAST(CASE
             WHEN v IS NOT NULL THEN v
             WHEN vp IS NOT NULL AND vn IS NOT NULL AND dn <> dp
               THEN vp + ((vn - vp) * (dd - dp)) // (dn - dp)
             ELSE -1 END AS BIGINT) AS filled_fp
    FROM nb
    """,
)
def q_timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("v")
    )
    j = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("dd"),
        "v",
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("dd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("dd")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    dd_if_obs = F.when(F.col("v").isNotNull(), F.col("dd"))
    nb = j.select(
        "user_id",
        "day",
        "dd",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("vp"),
        F.last(dd_if_obs, ignorenulls=True).over(back).alias("dp"),
        F.first("v", ignorenulls=True).over(fwd).alias("vn"),
        F.first(dd_if_obs, ignorenulls=True).over(fwd).alias("dn"),
    )
    interp = F.expr("vp + ((vn - vp) * (dd - dp)) DIV (dn - dp)")
    return nb.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("vp").isNotNull()
            & F.col("vn").isNotNull()
            & (F.col("dn") != F.col("dp")),
            interp,
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("filled_fp"),
    )


# ---------------------------------------------------------------------------
# Burst dedup: drop near-duplicate events within a time tolerance


@register(
    "event_burst_dedup",
    "Time-tolerance dedup: within each (user, event_type) stream, "
    "events closer than 5 s to their predecessor are duplicates of the "
    "burst leader (double-clicks, sensor chatter, at-least-once "
    "replays) — keep the first event of every burst. One lag() window "
    "per (user, type) timeline (full parallelism — the partition key "
    "cardinality is users × types, never the 5-value type alone), "
    "microsecond-exact gaps (unix_micros ≡ epoch_us per CROSS_ENGINE "
    "rule 29), then a per-type rollup of kept vs suppressed counts.",
    """
    WITH g AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id) <= 5000000
                  THEN 0 ELSE 1 END AS is_leader
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_leader) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(is_leader) AS BIGINT) AS n_suppressed
    FROM g
    GROUP BY event_type
    """,
)
def q_event_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    g = ev.select(
        "event_type",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) <= 5_000_000,
            0,
        )
        .otherwise(1)
        .alias("is_leader"),
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_leader").cast("bigint").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("is_leader")).cast("bigint").alias("n_suppressed"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov divergence between two order populations


@register(
    "source_divergence_ks",
    "Two-sample Kolmogorov–Smirnov statistic between odd- and even-"
    "customer order-price distributions on an equi-width 256-bucket "
    "grid — the drift detector that needs NO logarithms (cf. the chi² "
    "sibling): D = max |CDF_a − CDF_b|, computed exactly in integers "
    "as max |cum_a·n_b − cum_b·n_a| with ONE final fixed-point "
    "division. Both populations bucket in a single conditional-"
    "aggregate scan (no self-join); the CDF cumsum runs over the "
    "BOUNDED 256-row bucket table — a single-partition window over "
    "sketch-sized state, never over data (the same bounded-window "
    "contract as the equidepth boundary table).",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice) AS BIGINT) // 2000, 255) AS bucket,
             CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END AS a
      FROM orders
    ),
    c AS (
      SELECT bucket,
             CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(1 - a) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ),
    cum AS (
      SELECT bucket,
             SUM(n_a) OVER (ORDER BY bucket) AS ca,
             SUM(n_b) OVER (ORDER BY bucket) AS cb,
             SUM(n_a) OVER () AS ta,
             SUM(n_b) OVER () AS tb
      FROM c
    ),
    d AS (
      SELECT bucket, abs(ca * tb - cb * ta) AS dev, ta, tb FROM cum
    ),
    mx AS (SELECT MAX(dev) AS mdev FROM d)
    SELECT CAST(d.ta AS BIGINT) AS n_odd,
           CAST(d.tb AS BIGINT) AS n_even,
           CAST(MIN(d.bucket) AS BIGINT) AS ks_at_bucket,
           CAST(mx.mdev * 1000000 // NULLIF(d.ta * d.tb, 0) AS BIGINT) AS ks_fp
    FROM d JOIN mx ON d.dev = mx.mdev
    GROUP BY d.ta, d.tb, mx.mdev
    """,
)
def q_source_divergence_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.least(
            F.expr("CAST(floor(o_totalprice) AS BIGINT) DIV 2000"), F.lit(255)
        ).alias("bucket"),
        F.when(F.col("o_custkey") % 2 == 1, 1).otherwise(0).alias("a"),
    )
    c = b.groupBy("bucket").agg(
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("a")).cast("bigint").alias("n_b"),
    )
    # bounded 256-row window: single partition over sketch-sized state
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "bucket",
        F.sum("n_a").over(wcum).alias("ca"),
        F.sum("n_b").over(wcum).alias("cb"),
        F.sum("n_a").over(wall).alias("ta"),
        F.sum("n_b").over(wall).alias("tb"),
    )
    d = cum.select(
        "bucket",
        F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")).alias("dev"),
        "ta",
        "tb",
    )
    mx = d.agg(F.max("dev").alias("mdev"))
    return (
        d.join(F.broadcast(mx), d["dev"] == mx["mdev"])
        .groupBy("ta", "tb", "mdev")
        .agg(F.min("bucket").cast("bigint").alias("ks_at_bucket"))
        .select(
            F.col("ta").cast("bigint").alias("n_odd"),
            F.col("tb").cast("bigint").alias("n_even"),
            "ks_at_bucket",
            # NULLIF guard (CROSS_ENGINE rule 40): one-sided input
            # zeroes ta or tb; ANSI Spark throws on DIV 0
            F.expr(
                "CAST(mdev * 1000000 DIV NULLIF(ta * tb, 0) AS BIGINT)"
            ).alias("ks_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Truncated EWMA (8-lag, α = 1/2) per user event stream


_EWMA_W = [2 ** (7 - k) for k in range(8)]  # 128, 64, ..., 1


@register(
    "ewma_user_value",
    "Exponentially weighted moving average of each user's event values "
    "(α=1/2, truncated at 8 lags) evaluated at the user's latest "
    "event — the recursive smoother made CROSS-ENGINE EXACT by "
    "unrolling to integer lag weights 128..1 over round(value·100) "
    "quantities: ewma_fp = Σ wᵏ·vₖ DIV Σ wᵏ (weights only for lags "
    "that exist, so early-series rows stay exact). One window pass per "
    "user timeline (8 lag() columns share the single sort), top-25 "
    "users by final EWMA with full tie-break. The 8-term truncation "
    "bounds state per row — the full recursion needs running-product "
    "state no engine shares exactly.",
    f"""
    WITH v AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS q,
             epoch_us(ts) AS tu, event_id
      FROM events WHERE value IS NOT NULL
    ),
    lagd AS (
      SELECT user_id, q, tu, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tu DESC, event_id DESC)
               AS rdesc,
             {", ".join(
                 f"lag(q, {k}) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS l{k}"
                 for k in range(1, 8)
             )}
      FROM v
    ),
    e AS (
      SELECT user_id,
             ({" + ".join(["q * 128"] + [f"COALESCE(l{k} * {_EWMA_W[k]}, 0)" for k in range(1, 8)])})
             // (128{"".join(f" + CASE WHEN l{k} IS NOT NULL THEN {_EWMA_W[k]} ELSE 0 END" for k in range(1, 8))})
               AS ewma_fp
      FROM lagd WHERE rdesc = 1
    )
    SELECT user_id, CAST(ewma_fp AS BIGINT) AS ewma_fp FROM e
    ORDER BY ewma_fp DESC, user_id LIMIT 25
    """,
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("q"),
        F.unix_micros("ts").alias("tu"),
        "event_id",
    )
    asc = Window.partitionBy("user_id").orderBy("tu", "event_id")
    desc = Window.partitionBy("user_id").orderBy(
        F.col("tu").desc(), F.col("event_id").desc()
    )
    lagd = v.select(
        "user_id",
        "q",
        F.row_number().over(desc).alias("rdesc"),
        *[F.lag("q", k).over(asc).alias(f"l{k}") for k in range(1, 8)],
    )
    num = " + ".join(
        ["q * 128"] + [f"COALESCE(l{k} * {_EWMA_W[k]}, 0)" for k in range(1, 8)]
    )
    den = "128" + "".join(
        f" + CASE WHEN l{k} IS NOT NULL THEN {_EWMA_W[k]} ELSE 0 END"
        for k in range(1, 8)
    )
    return (
        lagd.filter(F.col("rdesc") == 1)
        .select(
            "user_id",
            F.expr(f"CAST(({num}) DIV ({den}) AS BIGINT)").alias("ewma_fp"),
        )
        .orderBy(F.col("ewma_fp").desc(), "user_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (grouped two-phase rank)


@register(
    "quantile_normalize_doclen",
    "Quantile normalization of document lengths across sources — the "
    "batch-effect remover (microarray lineage) that maps every "
    "source's r-th smallest value onto the cross-source mean at rank "
    "r, forcing identical marginal distributions. The within-source "
    "rank comes from operators/ranking.py::two_phase_rank_in_groups — "
    "coarse length buckets, per-group prefix offsets from a window "
    "over the BOUNDED bucket table, local rank per (source, bucket) — "
    "so no source ever funnels through one reducer (the hazard of a "
    "plain partitionBy(source) window when sources are few and huge), "
    "and there is NO driver collect. Reference values are exact fixed "
    "point (sum·10^6 DIV count); the oracle proves the distributed "
    "rank against DuckDB's plain grouped ROW_NUMBER. Equal-sized "
    "sources end with identical sum_qn_fp — the QN invariant, visible "
    "in the output.",
    """
    WITH r AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS rk
      FROM documents
    ),
    ref AS (
      SELECT rk, CAST(SUM(n_chars) * 1000000 // COUNT(*) AS BIGINT) AS ref_fp
      FROM r GROUP BY rk
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r.n_chars) AS BIGINT) AS sum_orig,
           CAST(SUM(ref.ref_fp) AS BIGINT) AS sum_qn_fp
    FROM r JOIN ref USING (rk)
    GROUP BY source
    """,
)
def q_quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    ranked = ranking.two_phase_rank_in_groups(
        docs,
        group_cols=["source"],
        order_by=["n_chars", "doc_id"],
        coarse=F.expr("n_chars DIV 256"),
        rank_name="rk",
    )
    ref = ranked.groupBy("rk").agg(
        F.expr("CAST(SUM(n_chars) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
            "ref_fp"
        )
    )
    return (
        ranked.join(ref, "rk")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_orig"),
            F.sum("ref_fp").cast("bigint").alias("sum_qn_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Exact distributed weighted median (two-phase grouped prefix sums)


@register(
    "weighted_median_price",
    "Quantity-weighted median line price per return flag — 'the price "
    "level at which half the shipped volume sits', the weighted "
    "quantile no built-in computes and a naive partitionBy(flag) "
    "cumsum window serializes per group (3 huge groups → 3 tasks). "
    "operators/ranking.py::two_phase_cumsum_in_groups builds the exact "
    "running weight in price order from per-(flag, price-bucket) "
    "totals + bounded prefix-offset windows; the median is then the "
    "minimum price whose inclusive cumulative weight reaches half the "
    "group total (2·cumw ≥ totw — integer comparison, no division). "
    "The oracle proves the two-phase prefix sum against DuckDB's "
    "plain grouped window cumsum.",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice) AS BIGINT) AS price,
             CAST(round(l_quantity) AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, price, w,
             SUM(w) OVER (PARTITION BY flag
                          ORDER BY price, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY flag) AS totw
      FROM v
    )
    SELECT flag,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price END) AS BIGINT)
             AS median_price
    FROM c
    GROUP BY flag
    """,
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(floor(l_extendedprice) AS BIGINT)").alias("price"),
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = ranking.two_phase_cumsum_in_groups(
        li,
        group_cols=["flag"],
        order_by=["price", "l_orderkey", "l_linenumber"],
        coarse=F.expr("price DIV 1000"),
        weight=F.col("w"),
        cum_name="cumw",
    )
    tot = cum.groupBy("flag").agg(F.sum("w").cast("long").alias("totw"))
    return (
        cum.join(F.broadcast(tot), "flag")
        .groupBy("flag")
        .agg(
            F.max("totw").cast("bigint").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price"))
            )
            .cast("bigint")
            .alias("median_price"),
        )
    )


# ---------------------------------------------------------------------------
# Quantization-recall eval: int8 code dot-products vs exact ground truth


@register(
    "quantization_recall_eval",
    "Compression-fidelity eval completing the SQ/IVF/PQ triad's "
    "measurement story: per query, the top-5 neighbors ranked by RAW "
    "int8 scalar-quantization code dot-products are compared against "
    "the exact integer-quantized cosine ground truth — recall@5 as a "
    "gate-checked number for 'how much neighbor structure survives "
    "255-level compression'. Candidate scoring is pure integer "
    "arithmetic over operators/similarity.py::scalar_codes (the SAME "
    "codes the parity query checks); the 10-query code table "
    "broadcasts into the exploded corpus stream (eval-harness class — "
    "brute-force by design, like the LSH/IVF evals). The oracle "
    "replays the identical code formula and both rankings in SQL.",
    f"""
    WITH w AS ({_DUCK_Q}),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
        FROM w a JOIN w b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    ex AS (
      SELECT vec_id, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    ),
    st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
    cd AS (
      SELECT vec_id, dim,
             CASE WHEN mx = mn THEN 0
                  ELSE CAST(least(greatest(floor((x - mn) / (mx - mn) * 255),
                                           0), 255) AS BIGINT) END AS code
      FROM ex JOIN st USING (dim)
    ),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(c.code * q.code) AS BIGINT) AS dot
      FROM cd c JOIN cd q
        ON q.dim = c.dim AND q.vec_id < 10 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    sq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, neighbor_id) AS rank
        FROM dots
      ) WHERE rank <= 5
    ),
    tc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
           FROM truth GROUP BY query_id),
    ov AS (SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM truth t JOIN sq s
             ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
           GROUP BY t.query_id)
    SELECT tc.query_id, tc.n_truth,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST((COALESCE(ov.n_overlap, 0) * 1000000) // tc.n_truth AS BIGINT)
             AS recall_fp
    FROM tc LEFT JOIN ov ON ov.query_id = tc.query_id
    """,
)
def q_quantization_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    codes = similarity.scalar_codes(spread(emb)).select("vec_id", "dim", "code")
    qc = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        "dim",
        F.col("code").alias("qcode"),
    )
    dots = (
        codes.join(F.broadcast(qc), "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("code") * F.col("qcode")).cast("bigint").alias("dot"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    sq = (
        dots.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    tc = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    ov = (
        truth.join(sq, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return tc.join(ov, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
        F.expr(
            "CAST((COALESCE(n_overlap, 0) * 1000000) DIV n_truth AS BIGINT)"
        ).alias("recall_fp"),
    )


# ---------------------------------------------------------------------------
# Weighted shortest paths: 3 Bellman-Ford relaxations in fixed point


_BF_INF = 9_000_000_000_000_000  # unreachable sentinel, bigint-safe under +w


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
    from etl_seattle_call_data_spark.plans.shared import (
        memo_copurchase_edges,
        memo_copurchase_pairs,
    )

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
    from etl_seattle_call_data_spark.plans.shared import (
        memo_basket_items,
        memo_copurchase_pairs,
    )

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
# Lorenz curve by customer revenue decile (two-phase rank + NTILE parity)


@register(
    "lorenz_curve_deciles",
    "Lorenz curve of revenue concentration: customers ranked ascending "
    "by revenue via the two-phase global rank (no single-partition "
    "sort — the gini query's machinery), NTILE(10)-identical deciles "
    "from operators/ranking.py::equidepth_bucket, then cumulative "
    "revenue share per decile in exact cents with ONE fixed-point "
    "division per row. The cumulative window runs over the BOUNDED "
    "10-row decile table (sketch-sized state). The oracle's plain "
    "NTILE window proves both the distributed rank and the ANSI "
    "bucket-fill contract.",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT rev_cents,
             NTILE(10) OVER (ORDER BY rev_cents, o_custkey) AS decile
      FROM r
    ),
    g AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(rev_cents) AS BIGINT) AS rev_cents
      FROM d GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile, n_customers, rev_cents,
           CAST(SUM(rev_cents) OVER (ORDER BY decile) AS BIGINT)
             AS cum_rev_cents,
           CAST(CAST(SUM(rev_cents) OVER (ORDER BY decile) AS HUGEINT)
                * 1000000 // SUM(rev_cents) OVER () AS BIGINT)
             AS cum_share_fp
    FROM g
    ORDER BY decile
    """,
)
def q_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    ranked, n = ranking.two_phase_rank(
        r,
        order_by=["rev_cents", "o_custkey"],
        coarse=F.expr("rev_cents DIV 1000000"),
        rank_name="rnk",
    )
    g = ranked.groupBy(
        ranking.equidepth_bucket(F.col("rnk"), n, 10).alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
    )
    # bounded 10-row windows: single partition over sketch-sized state
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return g.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "rev_cents",
        F.sum("rev_cents").over(wcum).cast("bigint").alias("cum_rev_cents"),
        # cum_cents * 1e6 passes 2^63 at sf1 (total ~2e13 cents) — the
        # scale product rides in DECIMAL(38,0)/HUGEINT, quotient <= 1e6
        F.expr(
            "CAST(CAST(SUM(rev_cents) OVER (ORDER BY decile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS DECIMAL(38,0)) * 1000000"
            " DIV SUM(rev_cents) OVER () AS BIGINT)"
        ).alias("cum_share_fp"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Zipf power-law audit via bit-length buckets (no logarithms)


@register(
    "zipf_bitlength_profile",
    "Power-law audit of the corpus token-frequency distribution "
    "WITHOUT logarithms: tokens bucket by floor(log2(count)) computed "
    "exactly as length(bin(count))−1 (identical binary rendering on "
    "both engines), giving the doubling-bucket histogram a Zipfian "
    "corpus shows as near-constant mass decay — the vocabulary "
    "diagnostic for tokenizer budgeting. Token counts are one "
    "explode+agg shuffle; the profile is a bucket-sized aggregate; "
    "the mass ratio between consecutive buckets lands in fixed point "
    "from a lag over the bounded bucket table.",
    f"""
    WITH tc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ),
    b AS (
      SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS log2_bucket, n FROM tc
    ),
    g AS (
      SELECT log2_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(n) AS BIGINT) AS total_occurrences
      FROM b GROUP BY log2_bucket
    )
    SELECT log2_bucket, n_tokens, total_occurrences,
           CAST(COALESCE(n_tokens * 1000000
                // NULLIF(lag(n_tokens) OVER (ORDER BY log2_bucket), 0), -1)
                AS BIGINT) AS decay_ratio_fp
    FROM g
    ORDER BY log2_bucket
    """,
)
def q_zipf_bitlength_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tc = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    g = tc.groupBy(
        (F.length(F.bin(F.col("n"))) - 1).cast("int").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("n").cast("bigint").alias("total_occurrences"),
    )
    # bounded window: one row per doubling bucket (< 64 rows)
    wl = Window.orderBy("log2_bucket")
    return g.select(
        "log2_bucket",
        "n_tokens",
        "total_occurrences",
        F.coalesce(
            F.expr(
                "n_tokens * 1000000 DIV NULLIF(lag(n_tokens)"
                " OVER (ORDER BY log2_bucket), 0)"
            ),
            F.lit(-1),
        )
        .cast("bigint")
        .alias("decay_ratio_fp"),
    ).orderBy("log2_bucket")


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers


@register(
    "k_anonymity_audit",
    "Privacy audit: k-anonymity of the customer table under the "
    "quasi-identifier (market segment, nation, account-balance "
    "thousand-bucket) — every release pipeline's pre-flight check. "
    "One groupBy builds the equivalence classes, one aggregate over "
    "the class table yields k (the minimum class size), the count of "
    "classes below k=5, and the rows re-identifiable at that "
    "threshold. Two shuffles total, class table bounded by the "
    "quasi-identifier domain, no row-level data leaves the executors.",
    """
    WITH q AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(floor(c_acctbal) AS BIGINT) // 1000 AS bal_bucket
      FROM customer
    ),
    cls AS (
      SELECT seg, nat, bal_bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY seg, nat, bal_bucket
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below_5,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk
    FROM cls
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr("CAST(floor(c_acctbal) AS BIGINT) DIV 1000").alias("bal_bucket"),
    )
    cls = q.groupBy("seg", "nat", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cls.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("n").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_classes_below_5"),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: token overlap + embedding cosine fused by RRF


@register(
    "hybrid_search_rrf",
    "Hybrid search: a lexical ranker (distinct-token overlap with the "
    "query document, broadcast token set) and a vector ranker "
    "(integer-quantized cosine to the query embedding, broadcast "
    "query vector) fused by Reciprocal Rank Fusion — "
    "score = Σ 10^6 DIV (60 + rank), the standard hybrid-retrieval "
    "combiner, EXACT in fixed point so both engines agree on every "
    "fused score. Each ranker is one broadcast probe over its corpus "
    "(no pairwise joins); the fusion is a full outer join of two "
    "top-20 lists. Query = doc/vec 0. Top-10 hybrid results with "
    "full tie-break.",
    f"""
    WITH qtok AS (
      SELECT DISTINCT unnest({_DUCK_TOKENS}) AS tok FROM documents WHERE doc_id = 0
    ),
    dtok AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_TOKENS}) AS tok
      FROM documents WHERE doc_id <> 0
    ),
    lex AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS overlap,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, doc_id) AS lex_rank
      FROM dtok JOIN qtok USING (tok)
      GROUP BY doc_id
      QUALIFY lex_rank <= 20
    ),
    w AS ({_DUCK_Q}),
    vec AS (
      SELECT neighbor_id AS doc_id, vec_rank FROM (
        SELECT a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (ORDER BY {_DUCK_COS} DESC, a.vec_id) AS vec_rank
        FROM w a JOIN w b ON b.vec_id = 0 AND a.vec_id <> 0
      ) WHERE vec_rank <= 20
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
             COALESCE(1000000 // (60 + lex.lex_rank), 0)
               + COALESCE(1000000 // (60 + vec.vec_rank), 0) AS rrf_fp
      FROM lex FULL OUTER JOIN vec ON vec.doc_id = lex.doc_id
    )
    SELECT doc_id, CAST(rrf_fp AS BIGINT) AS rrf_fp FROM fused
    ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import similarity

    docs = spread(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    qtok = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.explode(text.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    dtok = (
        docs.filter(F.col("doc_id") != 0)
        .select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    # r11: the overlap table is corpus-scale (every doc sharing >= 1
    # token with the query doc), so ranking it with an unpartitioned
    # row_number window serialized the corpus through one task. Take the
    # top-20 first (TakeOrderedAndProject — per-partition partial top-k
    # under the same (overlap DESC, doc_id) total order), then attach
    # lex_rank with a window over the BOUNDED 20-row result.
    wl = Window.orderBy(F.desc("overlap"), "doc_id")
    lex = (
        dtok.join(F.broadcast(qtok), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap"))
        .orderBy(F.desc("overlap"), "doc_id")
        .limit(20)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )
    vec = (
        similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.expr("1000000 DIV (60 + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000 DIV (60 + vec_rank)"), F.lit(0))
        ).alias("rrf_fp"),
    )
    return (
        fused.select("doc_id", F.col("rrf_fp").cast("bigint").alias("rrf_fp"))
        .orderBy(F.desc("rrf_fp"), "doc_id")
        .limit(10)
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
    from etl_seattle_call_data_spark.plans.shared import memo_copurchase_edges

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
# Mergeable MinHash: source-level similarity matrix


_SRC_MH_PERMS = 16


@register(
    "source_minhash_similarity",
    "Source-to-source content similarity from MERGEABLE MinHash "
    "sketches: each source's 16-permutation signature is the "
    "per-permutation MIN over all its shingle hashes — a plain "
    "aggregate, associatively mergeable exactly like production "
    "sketch stores merge per-shard sketches (min of mins). The "
    "estimated Jaccard between two sources is matching-permutation "
    "count / 16 in fixed point, reported next to the EXACT distinct-"
    "shingle Jaccard (two-level agg + pair join over the bounded "
    "source list) so the sketch error is a visible number per pair. "
    "Corpus work is one shingle explode; the pairwise stage touches "
    "only 20 signatures. Top-15 most similar pairs.",
    f"""
    WITH sh AS (
      SELECT DISTINCT source,
             ('0x' || substr(md5(toks[i + 1] || ' ' || toks[i + 2]), 1, 15))::BIGINT
               AS h
      FROM (SELECT source, {_DUCK_TOKENS} AS toks FROM documents),
           unnest(range(0, greatest(len(toks) - 1, 0))) AS t(i)
    ),
    sig AS (
      SELECT source, p,
             MIN(('0x' || substr(md5(CAST(h AS VARCHAR) || ':p' || CAST(p AS VARCHAR)),
                                 1, 15))::BIGINT) AS mh
      FROM sh, unnest(range(0, {_SRC_MH_PERMS})) AS t(p)
      GROUP BY source, p
    ),
    est AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) * 1000000
                  // {_SRC_MH_PERMS} AS BIGINT) AS est_jaccard_fp
      FROM sig a JOIN sig b ON a.p = b.p AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    exact AS (
      SELECT i.src_a, i.src_b,
             CAST(i.n_common * 1000000
                  // (ca.n + cb.n - i.n_common) AS BIGINT) AS jaccard_fp
      FROM inter i
      JOIN cnt ca ON ca.source = i.src_a
      JOIN cnt cb ON cb.source = i.src_b
    )
    SELECT e.src_a, e.src_b, e.est_jaccard_fp,
           COALESCE(x.jaccard_fp, 0) AS jaccard_fp
    FROM est e LEFT JOIN exact x
      ON x.src_a = e.src_a AND x.src_b = e.src_b
    ORDER BY jaccard_fp DESC, e.src_a, e.src_b
    LIMIT 15
    """,
)
def q_source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))

    # bigram shingles via the zip_with co-walk, md5-hashed to the
    # portable 60-bit integer (same tokenization as ngram_top_bigrams).
    # FOUR consumers (signatures, per-source counts, both arms of the
    # exact-intersection join) — memoize or the tokenize+distinct runs
    # four times.
    def build_sh() -> DataFrame:
        return (
            docs.select(
                "source", F.explode(text.bigrams(F.col("text"))).alias("shingle")
            )
            .select(
                "source",
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
                .cast("long")
                .alias("h"),
            )
            .distinct()
        )

    sh = memo("srcmh:shingles", build_sh, token=("srcmh:shingles", sf_dir))
    perms = F.explode(F.sequence(F.lit(0), F.lit(_SRC_MH_PERMS - 1))).alias("p")
    sig = (
        sh.select("source", "h", perms)
        .select(
            "source",
            "p",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("h").cast("string"), F.lit(":p"), F.col("p").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("ph"),
        )
        .groupBy("source", "p")
        .agg(F.min("ph").alias("mh"))
    )
    # the signature frame feeds BOTH arms of its own self-join: persist
    # it or the 16x permutation explode + md5 pass runs once per arm
    # (the multi-consumer-subtree hazard dedup.jaccard_pairs documents).
    # Tiny frame — |sources| x perms rows.
    sig = memo("srcmh:sig", lambda: sig)
    a = sig.select(F.col("source").alias("src_a"), "p", F.col("mh").alias("mha"))
    b = sig.select(F.col("source").alias("src_b"), "p", F.col("mh").alias("mhb"))
    est = (
        a.join(b, ["p"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN mha = mhb THEN 1 ELSE 0 END) * 1000000"
                f" DIV {_SRC_MH_PERMS} AS BIGINT)"
            ).alias("est_jaccard_fp")
        )
    )
    cnt = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ia = sh.select(F.col("source").alias("src_a"), "h")
    ib = sh.select(F.col("source").alias("src_b"), "h")
    inter = (
        ia.join(ib, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    exact = (
        inter.join(
            F.broadcast(cnt.select(F.col("source").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.expr("CAST(n_common * 1000000 DIV (na + nb - n_common) AS BIGINT)").alias(
                "jaccard_fp"
            ),
        )
    )
    return (
        est.join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_jaccard_fp",
            F.coalesce(F.col("jaccard_fp"), F.lit(0)).cast("bigint").alias("jaccard_fp"),
        )
        .orderBy(F.desc("jaccard_fp"), "src_a", "src_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count estimator, measured vs exact


_KMV_K = 64


@register(
    "cardinality_kmv_eval",
    "Distinct-count sketch eval: the KMV (k-minimum-values / bottom-k) "
    "estimator over distinct order customers — estimate = "
    "(k−1)·2^52 DIV h_(k) where h_(k) is the k-th smallest 52-bit md5 "
    "hash — measured against the exact COUNT(DISTINCT) with the "
    "relative error as a fixed-point number. Pure integers end to "
    "end (the estimator that needs NO harmonic means or logs, unlike "
    "HLL). The bottom-k is a TakeOrdered global top-k (per-partition "
    "heads + k-row driver merge, never a global sort); the sketch is "
    "mergeable by construction (union of bottom-k sets → bottom-k). "
    "One row: exact, estimate, signed error.",
    f"""
    WITH h AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))::BIGINT
               AS hv
      FROM orders
    ),
    bk AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    kth AS (SELECT MAX(hv) AS hk, CAST(COUNT(*) AS BIGINT) AS k_used FROM bk),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM h)
    SELECT ex.n_exact, kth.k_used,
           CAST(CASE WHEN kth.k_used < {_KMV_K} THEN ex.n_exact
                ELSE ({_KMV_K} - 1) * 4503599627370496 // kth.hk END
                AS BIGINT) AS n_estimate,
           CAST(((CASE WHEN kth.k_used < {_KMV_K} THEN ex.n_exact
                  ELSE ({_KMV_K} - 1) * 4503599627370496 // kth.hk END)
                 - ex.n_exact) * 1000000 // ex.n_exact AS BIGINT)
             AS rel_error_fp
    FROM ex CROSS JOIN kth
    """,
)
def q_cardinality_kmv_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = o.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv")
    ).distinct()
    bk = h.orderBy("hv").limit(_KMV_K)
    kth = bk.agg(
        F.max("hv").alias("hk"), F.count(F.lit(1)).cast("bigint").alias("k_used")
    )
    ex = h.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = (
        f"CASE WHEN k_used < {_KMV_K} THEN n_exact"
        f" ELSE ({_KMV_K} - 1) * 4503599627370496 DIV hk END"
    )
    return dq.scalar_join(ex, kth).select(
        "n_exact",
        "k_used",
        F.expr(f"CAST({est} AS BIGINT)").alias("n_estimate"),
        F.expr(
            f"CAST((({est}) - n_exact) * 1000000 DIV n_exact AS BIGINT)"
        ).alias("rel_error_fp"),
    )


# ---------------------------------------------------------------------------
# Exact distributed AUC (Mann-Whitney with tie correction, pure integers)


@register(
    "classifier_auc_exact",
    "EXACT ROC-AUC of 'document length predicts English' — the "
    "Mann-Whitney pair formulation every distributed AUC job should "
    "use instead of sampling: group by distinct score, count "
    "positives/negatives per score, running negatives-below via the "
    "two-phase grouped cumsum (score-bucket offsets — no single-"
    "partition sort over the score distribution), then "
    "AUC = (2·concordant + ties) / (2·n_pos·n_neg) with every term an "
    "exact integer and ONE final fixed-point division. The score "
    "table is distinct-value-sized, not row-sized; at 100 TB the "
    "same plan runs over bucketized scores. Output: pair counts + "
    "auc_fp.",
    """
    WITH s AS (
      SELECT n_chars AS score,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT score, np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(np * neg_below) AS BIGINT) AS concordant,
             CAST(SUM(np * nn) AS BIGINT) AS tied,
             CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(nn) AS BIGINT) AS n_neg
      FROM c
    )
    SELECT n_pos, n_neg, concordant, tied,
           CAST((2 * concordant + tied) * 1000000
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_fp
    FROM agg
    """,
)
def q_classifier_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("bigint")
        .alias("nn"),
    ).withColumn("g", F.lit(1))
    cum = ranking.two_phase_cumsum_in_groups(
        s,
        group_cols=["g"],
        order_by=["score"],
        coarse=F.expr("score DIV 256"),
        weight=F.col("nn"),
        cum_name="cum_nn",
    ).withColumn("neg_below", F.col("cum_nn") - F.col("nn"))
    agg = cum.agg(
        F.sum(F.col("np") * F.col("neg_below")).cast("bigint").alias("concordant"),
        F.sum(F.col("np") * F.col("nn")).cast("bigint").alias("tied"),
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "concordant",
        "tied",
        F.expr(
            "CAST((2 * concordant + tied) * 1000000"
            " DIV (2 * n_pos * n_neg) AS BIGINT)"
        ).alias("auc_fp"),
    )


# ---------------------------------------------------------------------------
# Exact stratified split (rank-based, exact per-stratum proportions)


@register(
    "exact_stratified_split",
    "Exact 80/20 stratified holdout: within every source stratum, "
    "EXACTLY floor(n/5) documents go to the test fold — the guarantee "
    "hash-splitting can't give (binomial jitter starves small "
    "strata). Membership is the within-stratum two-phase rank over "
    "the md5-shuffled order (deterministic, data-independent "
    "shuffling; no per-stratum single reducer), test = rank ≤ "
    "floor(n/5) via a broadcast per-stratum count. Output proves "
    "exactness: per source, fold sizes and the doc-id checksum of "
    "the test fold.",
    """
    WITH h AS (
      SELECT source, doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15))::BIGINT
               AS hv
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM h
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= n // 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           CAST(SUM(CASE WHEN rk <= n // 5 THEN doc_id ELSE 0 END) AS BIGINT)
             AS test_id_checksum
    FROM r
    GROUP BY source
    """,
)
def q_exact_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    ranked = ranking.two_phase_rank_in_groups(
        h,
        group_cols=["source"],
        order_by=["hv", "doc_id"],
        coarse=F.expr("hv DIV 72057594037927936"),  # 2^56: 16 hash buckets
        rank_name="rk",
    )
    n = h.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = ranked.join(F.broadcast(n), "source")
    is_test = F.col("rk") <= F.expr("n DIV 5")
    return j.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(is_test, 1).otherwise(0)).cast("bigint").alias("n_test"),
        F.sum(F.when(is_test, F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("test_id_checksum"),
    )


# ---------------------------------------------------------------------------
# Two-proportion A/B test (exact counts, deterministic z-score)


@register(
    "ab_test_two_proportion",
    "Two-proportion z-test between experiment arms (odd vs even "
    "users): does arm A convert (purchase) more than arm B? Counts "
    "are exact integers from ONE conditional-aggregate scan (no "
    "per-arm jobs); the z-score derives from those integers through "
    "the pooled-variance formula — sqrt and division are IEEE-"
    "correctly-rounded on identical inputs, so the doubles agree "
    "bit-for-bit (the corr_matrix contract). Per-arm user counts and "
    "converter counts are distinct-user aggregates (two-level "
    "groupBy, no count-distinct Expand).",
    """
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_b
      FROM u
    )
    SELECT n_a, c_a, n_b, c_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN CAST(0.0 AS DOUBLE)
           ELSE
             (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           END AS z_score
    FROM a
    """,
)
def q_ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("converted")
    ).withColumn("arm", F.col("user_id") % 2)
    a = u.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    pa = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    degenerate = (F.col("c_a") + F.col("c_b") == 0) | (
        F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")
    )
    return a.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        # all-convert / none-convert arms have zero pooled variance: pin
        # z to 0.0 on both engines (DuckDB would emit NaN, Spark ANSI errors)
        F.when(degenerate, F.lit(0.0)).otherwise(z).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue series


@register(
    "revenue_max_drawdown",
    "Maximum drawdown of daily order revenue — the peak-to-trough "
    "risk metric: running peak via a cumulative-max window, drawdown "
    "= peak − value, report the deepest one and its day. Daily totals "
    "are exact cents from one aggregate; every window runs over the "
    "BOUNDED day table (rows = horizon days, sketch-sized state — "
    "the same bounded-window contract as the KS bucket grid), so the "
    "fact table never meets a window. Deterministic day tie-break on "
    "the earliest deepest day.",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT day, rev_cents,
             MAX(rev_cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_cents
      FROM daily
    ),
    w AS (
      SELECT day, rev_cents, peak_cents,
             peak_cents - rev_cents AS drawdown_cents
      FROM dd
    ),
    mx AS (SELECT MAX(drawdown_cents) AS mdd FROM w)
    SELECT CAST(MIN(w.day) AS BIGINT) AS drawdown_day,
           CAST(mx.mdd AS BIGINT) AS max_drawdown_cents,
           CAST(COUNT(*) AS BIGINT) AS n_days_at_max
    FROM w JOIN mx ON w.drawdown_cents = mx.mdd
    GROUP BY mx.mdd
    """,
)
def q_revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    # bounded window: one row per day of the horizon
    wpeak = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w = daily.select(
        "day",
        "rev_cents",
        (F.max("rev_cents").over(wpeak) - F.col("rev_cents")).alias("drawdown_cents"),
    )
    mx = w.agg(F.max("drawdown_cents").alias("mdd"))
    return (
        w.join(F.broadcast(mx), w["drawdown_cents"] == mx["mdd"])
        .groupBy("mdd")
        .agg(
            F.min("day").cast("bigint").alias("drawdown_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days_at_max"),
        )
        .select(
            "drawdown_day",
            F.col("mdd").cast("bigint").alias("max_drawdown_cents"),
            "n_days_at_max",
        )
    )


# ---------------------------------------------------------------------------
# Mix-shift decomposition: volume vs price effect per segment


@register(
    "mix_shift_decomposition",
    "Period-over-period revenue-change decomposition per order "
    "priority — the BI mix-shift analysis: delta = volume effect "
    "((n2−n1)·avg1) + price effect (n2·(avg2−avg1)), with the "
    "truncation residual reported explicitly so the identity is "
    "auditable. Both periods (first vs second half of the date range "
    "by median day) come from ONE conditional-aggregate scan; "
    "averages are fixed-point cents DIV order-count (identical "
    "truncation both engines). The period split day is a bounded "
    "scalar broadcast.",
    """
    WITH d AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    split AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM d),
    g AS (
      SELECT priority,
             CAST(SUM(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN day <= mid THEN cents ELSE 0 END) AS BIGINT) AS rev1,
             CAST(SUM(CASE WHEN day > mid THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN day > mid THEN cents ELSE 0 END) AS BIGINT) AS rev2
      FROM d CROSS JOIN split
      GROUP BY priority
    )
    SELECT priority, n1, rev1, n2, rev2,
           CAST((n2 - n1) * (rev1 // NULLIF(n1, 0)) AS BIGINT) AS volume_effect,
           CAST(n2 * (rev2 // NULLIF(n2, 0) - rev1 // NULLIF(n1, 0)) AS BIGINT)
             AS price_effect,
           CAST((rev2 - rev1)
                - (n2 - n1) * (rev1 // NULLIF(n1, 0))
                - n2 * (rev2 // NULLIF(n2, 0) - rev1 // NULLIF(n1, 0))
                AS BIGINT) AS residual
    FROM g
    """,
)
def q_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    split = d.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"))
    g = (
        d.crossJoin(F.broadcast(split))
        .groupBy("priority")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("day") <= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("rev1"),
            F.sum(F.when(F.col("day") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(F.when(F.col("day") > F.col("mid"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("rev2"),
        )
    )
    a1 = "rev1 DIV NULLIF(n1, 0)"
    a2 = "rev2 DIV NULLIF(n2, 0)"
    return g.select(
        "priority",
        "n1",
        "rev1",
        "n2",
        "rev2",
        F.expr(f"CAST((n2 - n1) * ({a1}) AS BIGINT)").alias("volume_effect"),
        F.expr(f"CAST(n2 * (({a2}) - ({a1})) AS BIGINT)").alias("price_effect"),
        F.expr(
            f"CAST((rev2 - rev1) - (n2 - n1) * ({a1})"
            f" - n2 * (({a2}) - ({a1})) AS BIGINT)"
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution within sessions


@register(
    "attribution_linear_session",
    "Linear multi-touch attribution: each purchase's value splits "
    "equally across ALL preceding events of the same user session "
    "(30-min gap sessionization), in exact integer cents — "
    "value DIV n per touch with the remainder assigned to the "
    "earliest touch, so attributed cents sum EXACTLY to purchase "
    "cents (the audit no float split survives). Sessionization and "
    "the per-purchase touch counts are per-user windows (full "
    "parallelism); credit flows through one equi-join on "
    "(user, session, purchase-order). Output: attributed cents per "
    "touch event type. Scale caveat owned: per-purchase fan-out equals "
    "its session's touch count, so a pathological never-idle key (bot "
    "traffic) concentrates credit rows — cap session length upstream "
    "(the burst-dedup gate) before attribution at 100 TB.",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) AS tu,
             CAST(round(COALESCE(value, 0) * 100) AS BIGINT) AS cents
      FROM events
    ),
    marks AS (
      SELECT *,
             CASE WHEN tu - COALESCE(lag(tu) OVER (
                    PARTITION BY user_id ORDER BY tu, event_id), tu)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marks
    ),
    touches AS (
      SELECT user_id, sess, event_id, event_type, tu
      FROM s WHERE event_type <> 'purchase'
    ),
    purchases AS (
      SELECT user_id, sess, event_id AS p_id, tu AS p_tu, cents
      FROM s WHERE event_type = 'purchase' AND cents > 0
    ),
    credit AS (
      SELECT t.event_type, p.cents, p.p_id,
             CAST(COUNT(*) OVER (PARTITION BY p.user_id, p.sess, p.p_id)
                  AS BIGINT) AS n_touch,
             ROW_NUMBER() OVER (PARTITION BY p.user_id, p.sess, p.p_id
                                ORDER BY t.tu, t.event_id) AS touch_rank
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id AND t.sess = p.sess AND t.tu < p.p_tu
    )
    SELECT event_type,
           CAST(SUM(cents // n_touch
                    + CASE WHEN touch_rank = 1 THEN cents % n_touch ELSE 0 END)
                AS BIGINT) AS attributed_cents,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM credit
    GROUP BY event_type
    """,
)
def q_attribution_linear_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tu"),
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000,
        1,
    ).otherwise(0)
    s = e.withColumn(
        "sess",
        F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    touches = s.filter(F.col("event_type") != "purchase").select(
        "user_id", "sess", "event_id", "event_type", "tu"
    )
    purchases = s.filter(
        (F.col("event_type") == "purchase") & (F.col("cents") > 0)
    ).select(
        "user_id", "sess", F.col("event_id").alias("p_id"),
        F.col("tu").alias("p_tu"), "cents",
    )
    joined = purchases.join(touches, ["user_id", "sess"]).filter(
        F.col("tu") < F.col("p_tu")
    )
    wp = Window.partitionBy("user_id", "sess", "p_id")
    credit = joined.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_touch"),
        F.row_number().over(wp.orderBy("tu", "event_id")).alias("touch_rank"),
    )
    return credit.groupBy("event_type").agg(
        F.sum(
            F.expr("cents DIV n_touch")
            + F.when(F.col("touch_rank") == 1, F.expr("cents % n_touch")).otherwise(0)
        )
        .cast("bigint")
        .alias("attributed_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
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
    from etl_seattle_call_data_spark.plans.shared import memo_copurchase_edges

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
# Score calibration table (deciles of score vs outcome rate)


@register(
    "score_calibration_table",
    "Calibration table for 'document length predicts English' — the "
    "companion diagnostic to classifier_auc_exact (AUC measures "
    "discrimination, this measures calibration): documents rank into "
    "NTILE-identical score deciles via the two-phase global rank (no "
    "single-partition sort), and each decile reports its exact "
    "positive rate in fixed point plus the mean score — the "
    "reliability-diagram table. One rank pass + one 10-row rollup.",
    """
    WITH d AS (
      SELECT doc_id, n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_fp,
           CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score_fp
    FROM d
    GROUP BY decile
    ORDER BY decile
    """,
)
def q_score_calibration_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ranked, n = ranking.two_phase_rank(
        docs,
        order_by=["score", "doc_id"],
        coarse=F.expr("score DIV 256"),
        rank_name="rnk",
    )
    return (
        ranked.groupBy(
            ranking.equidepth_bucket(F.col("rnk"), n, 10).alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr("CAST(SUM(y) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
                "pos_rate_fp"
            ),
            F.expr("CAST(SUM(score) DIV COUNT(*) AS BIGINT)").alias(
                "mean_score_fp"
            ),
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_docs",
            "n_pos",
            "pos_rate_fp",
            "mean_score_fp",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Session depth histogram


@register(
    "session_depth_histogram",
    "Session-depth distribution: sessionize each user's event stream "
    "(30-min gaps, the attribution query's shape), count events per "
    "session, and histogram sessions by depth bucket (1, 2-3, 4-7, "
    "8-15, 16+) — the engagement-shape metric behind bounce-rate "
    "dashboards. Two per-user windows (full parallelism) + one "
    "session rollup + one bounded histogram aggregate; depth buckets "
    "are closed-form integer ranges, no percentile machinery.",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
    ),
    marks AS (
      SELECT user_id, tu, event_id,
             CASE WHEN tu - COALESCE(lag(tu) OVER (
                    PARTITION BY user_id ORDER BY tu, event_id), tu)
                  > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marks
    ),
    depth AS (
      SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sess
    ),
    b AS (
      SELECT CASE WHEN n_events = 1 THEN '1'
                  WHEN n_events <= 3 THEN '2-3'
                  WHEN n_events <= 7 THEN '4-7'
                  WHEN n_events <= 15 THEN '8-15'
                  ELSE '16+' END AS depth_bucket,
             n_events
      FROM depth
    )
    SELECT depth_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM b
    GROUP BY depth_bucket
    """,
)
def q_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", F.unix_micros("ts").alias("tu"))
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000,
        1,
    ).otherwise(0)
    s = e.withColumn(
        "sess", F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    depth = s.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    bucket = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") <= 3, "2-3")
        .when(F.col("n_events") <= 7, "4-7")
        .when(F.col("n_events") <= 15, "8-15")
        .otherwise("16+")
    )
    return depth.groupBy(bucket.alias("depth_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Grouped weighted quantiles (p25/p50/p75) from one prefix-sum pass


@register(
    "weighted_quantiles_price",
    "Quantity-weighted p25/p50/p75 line prices per return flag — the "
    "full weighted-quantile profile from ONE two-phase prefix-sum "
    "pass (weighted_median_price generalized): each quantile q is the "
    "minimum price whose inclusive cumulative weight reaches "
    "ceil(q·total), an integer comparison (4·cumw ≥ totw etc.), so "
    "all three quantiles fall out of the same cumulative column with "
    "no extra shuffles. No group ever serializes through one reducer; "
    "the oracle proves it against DuckDB's plain grouped window "
    "cumsum.",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice) AS BIGINT) AS price,
             CAST(round(l_quantity) AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, price, w,
             SUM(w) OVER (PARTITION BY flag
                          ORDER BY price, l_orderkey, l_linenumber
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY flag) AS totw
      FROM v
    )
    SELECT flag,
           CAST(MAX(totw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 4 * cumw >= totw THEN price END) AS BIGINT)
             AS p25_price,
           CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price END) AS BIGINT)
             AS p50_price,
           CAST(MIN(CASE WHEN 4 * cumw >= 3 * totw THEN price END) AS BIGINT)
             AS p75_price
    FROM c
    GROUP BY flag
    """,
)
def q_weighted_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators import ranking

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(floor(l_extendedprice) AS BIGINT)").alias("price"),
        F.round(F.col("l_quantity")).cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = ranking.two_phase_cumsum_in_groups(
        li,
        group_cols=["flag"],
        order_by=["price", "l_orderkey", "l_linenumber"],
        coarse=F.expr("price DIV 1000"),
        weight=F.col("w"),
        cum_name="cumw",
    )
    tot = cum.groupBy("flag").agg(F.sum("w").cast("long").alias("totw"))
    j = cum.join(F.broadcast(tot), "flag")
    return j.groupBy("flag").agg(
        F.max("totw").cast("bigint").alias("total_weight"),
        F.min(F.when(4 * F.col("cumw") >= F.col("totw"), F.col("price")))
        .cast("bigint")
        .alias("p25_price"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price")))
        .cast("bigint")
        .alias("p50_price"),
        F.min(F.when(4 * F.col("cumw") >= 3 * F.col("totw"), F.col("price")))
        .cast("bigint")
        .alias("p75_price"),
    )
