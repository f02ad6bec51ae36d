"""Embedding queries over the ``embeddings`` table.

Exact and approximate top-k similarity (brute force, sign-LSH,
multi-probe, IVF), recall and ranking-quality evaluation, scalar and
product quantization, k-means and nearest-centroid classification,
semantic dedup, k-NN graphs and embedding-space statistics.

Oracle-parity strategy (see operators/similarity.py): integer-quantized
embedding math, so dot products and norms are exact integers on both
engines and every cosine is one shared IEEE expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dedup, similarity, text
from etl_seattle_call_data_spark.operators.similarity import _cosine, _dot, _l2sq, with_quantized
from etl_seattle_call_data_spark.operators.sketch import md5_int
from etl_seattle_call_data_spark.operators.util import checkpoint, spread
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import (
    _DUCK_TOKENS,
    _SPLIT_DUCK,
    _SPLIT_SPARK,
    _split_double,
)
from etl_seattle_call_data_spark.sources.registry import load_table


_DUCK_QVEC = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_DUCK_Q = f"""
    SELECT vec_id, label, {_DUCK_QVEC} AS qv,
           CAST(list_sum(list_transform({_DUCK_QVEC}, x -> x * x)) AS BIGINT) AS n2
    FROM embeddings
"""
_DUCK_COS = (
    "CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE)"
    " / sqrt(CAST(a.n2 * b.n2 AS DOUBLE))"
)


@register(
    "embedding_cosine_pairs",
    "Embedding near-dup pairs: cosine ≥ 0.3 within label blocks — "
    "integer-quantized exact math, equi-join on the block key.",
    f"""
    WITH w AS ({_DUCK_Q})
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_DUCK_COS} AS cosine
      FROM w a JOIN w b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.3
    """,
)
def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, threshold=0.3, block_col="label")


@register(
    "similarity_topk_bruteforce",
    "Brute-force cosine top-5 for query vectors (vec_id < 10): broadcast "
    "queries × streamed corpus, windowed top-k with deterministic "
    "tie-break — the exact ANN baseline.",
    f"""
    WITH w AS ({_DUCK_Q})
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_DUCK_COS} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
      FROM w a JOIN w b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
    ) WHERE rank <= 5
    """,
)
def q_similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


_LSH_PLANES, _LSH_DIMS = 8, 64  # lsh_topk's planes over the 64-dim embeddings


def _lsh_bucket_sql() -> str:
    """DuckDB expression for the sign-random-projection bucket id —
    the same driver-side md5 hyperplane weights the Spark plan embeds
    (operators/similarity.py), as literal BIGINT lists."""
    weights = similarity._hyperplane_weights(_LSH_PLANES, _LSH_DIMS)
    terms = []
    for p in range(_LSH_PLANES):
        wlist = "[" + ", ".join(str(w) for w in weights[p]) + "]::BIGINT[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, len(qv) + 1), "
            f"i -> qv[i] * ({wlist})[i])) > 0 THEN {2**p} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "similarity_topk_lsh",
    "ANN top-5 via sign-random-projection LSH buckets (md5-derived "
    "deterministic hyperplanes) + exact in-bucket re-rank — the scale path "
    "when the corpus outgrows a broadcast. Deterministic hyperplanes make "
    "even this approximate path oracle-checkable.",
    f"""
    WITH w AS ({_DUCK_Q}),
    bkt AS (SELECT vec_id, qv, n2, {_lsh_bucket_sql()} AS bucket FROM w)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_DUCK_COS} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
      FROM bkt a JOIN bkt b
        ON a.bucket = b.bucket AND b.vec_id < 10 AND a.vec_id <> b.vec_id
    ) WHERE rank <= 5
    """,
)
def q_similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, k=5, num_planes=_LSH_PLANES)


@register(
    "similarity_topk_lsh_multiprobe",
    "ANN top-5 with Hamming-1 multi-probe LSH: each query also probes "
    "the num_planes buckets one sign-flip away (Lv et al. VLDB'07), "
    "recovering the recall single-probe loses to boundary flips at the "
    "cost of a ×(planes+1) fan-out on the TINY query side only — the "
    "corpus layout and its single bucket shuffle are unchanged "
    "(operators/similarity.py::lsh_topk_multiprobe).",
    f"""
    WITH w AS ({_DUCK_Q}),
    bkt AS (SELECT vec_id, qv, n2, {_lsh_bucket_sql()} AS bucket FROM w),
    probes AS (
      SELECT vec_id, qv, n2,
             unnest([bucket] || list_transform(range(0, 8),
                                               p -> xor(bucket, CAST(1 AS BIGINT) << p))) AS bucket
      FROM bkt WHERE vec_id < 10
    )
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_DUCK_COS} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
      FROM bkt a JOIN probes b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ) WHERE rank <= 5
    """,
)
def q_similarity_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk_multiprobe(emb, queries)


_IVF_DIST = (
    "list_sum(list_transform(range(1, len(v.qv) + 1), "
    "i -> (v.qv[i] - c.qv[i]) * (v.qv[i] - c.qv[i])))"
)


@register(
    "similarity_topk_ivf",
    "IVF-style ANN top-5: nearest-coarse-centroid cells (8 seeded "
    "deterministic centroids), single-probe equi-join on the cell, exact "
    "in-cell cosine re-rank — the inverted-file scale path where the cell "
    "doubles as the corpus partition key.",
    f"""
    WITH w AS ({_DUCK_Q}),
    cand AS (
      SELECT v.vec_id, c.vec_id AS cvid, {_IVF_DIST} AS d
      FROM w v JOIN w c ON c.vec_id < 8
    ),
    cells AS (
      SELECT vec_id, cvid AS cell FROM (
        SELECT vec_id, cvid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cvid) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    bkt AS (SELECT w.*, cells.cell FROM w JOIN cells USING (vec_id))
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_DUCK_COS} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
      FROM bkt a JOIN bkt b
        ON a.cell = b.cell AND b.vec_id < 10 AND a.vec_id <> b.vec_id
    ) WHERE rank <= 5
    """,
)
def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, n_cells=8)


@register(
    "embedding_dim_stats",
    "Per-dimension corpus statistics over the embedding column via "
    "posexplode — the feature-distribution profile (drift detection, "
    "normalization constants). Quantized integer sums keep the mean "
    "numerator exact; min/max are order-free.",
    f"""
    SELECT dim,
           COUNT(*) AS n,
           MIN(v) AS v_min,
           MAX(v) AS v_max,
           CAST(SUM(CAST(round(v * 1000) AS BIGINT)) AS BIGINT) AS qsum
    FROM (
      SELECT i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    )
    GROUP BY dim
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(F.posexplode("embedding").alias("dim", "v_raw")).select(
        "dim", F.col("v_raw").cast("double").alias("v")
    )
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
        F.sum(F.round(F.col("v") * 1000).cast("bigint")).cast("bigint").alias("qsum"),
    )


@register(
    "similarity_ivf_recall_eval",
    "ANN-quality evaluation harness: IVF single-probe top-5 measured "
    "per query against the brute-force exact top-5 ground truth — "
    "n_truth / n_ivf / overlap and fixed-point recall@5 per query. The "
    "single-probe recall loss (queries whose true neighbors live in a "
    "neighboring cell) becomes a NUMBER the gate checks instead of a "
    "docstring caveat. Reuses the session-shared centroid codebook and "
    "both top-k operators; the comparison itself is one semi-join and "
    "three 10-row aggregates.",
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
    cand AS (
      SELECT v.vec_id, c.vec_id AS cvid, {_IVF_DIST} AS d
      FROM w v JOIN w c ON c.vec_id < 8
    ),
    cells AS (
      SELECT vec_id, cvid AS cell FROM (
        SELECT vec_id, cvid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cvid) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    bkt AS (SELECT w.*, cells.cell FROM w JOIN cells USING (vec_id)),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
        FROM bkt a JOIN bkt b
          ON a.cell = b.cell AND b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    tc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
           FROM truth GROUP BY query_id),
    ic AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ivf
           FROM ivf GROUP BY query_id),
    ov AS (SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM truth t JOIN ivf i
             ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
           GROUP BY t.query_id)
    SELECT tc.query_id, tc.n_truth,
           CAST(COALESCE(ic.n_ivf, 0) AS BIGINT) AS n_ivf,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST((COALESCE(ov.n_overlap, 0) * 1000000) // tc.n_truth AS BIGINT)
             AS recall_fp
    FROM tc
    LEFT JOIN ic ON ic.query_id = tc.query_id
    LEFT JOIN ov ON ov.query_id = tc.query_id
    """,
)
def q_similarity_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity.ivf_topk(emb, queries, k=5, n_cells=8).select(
        "query_id", "neighbor_id"
    )
    tc = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    ic = ivf.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ivf")
    )
    ov = (
        truth.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    return (
        tc.join(ic, "query_id", "left")
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce(F.col("n_ivf"), F.lit(0)).cast("bigint").alias("n_ivf"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
            F.expr(
                "CAST((COALESCE(n_overlap, 0) * 1000000) DIV n_truth AS BIGINT)"
            ).alias("recall_fp"),
        )
    )


@register(
    "embedding_label_centroids",
    "Per-label embedding centroid, one row per (label, dim): exact "
    "integer mean numerator from quantized dims, one double division at "
    "the end. Explode is 64× rows but partial aggregation combines "
    "map-side before the single (label, dim) shuffle "
    "(operators/similarity.py::label_centroids).",
    """
    SELECT label, dim, COUNT(*) AS n_vecs,
           CAST(SUM(qval) AS BIGINT) AS qsum,
           CAST(SUM(qval) AS DOUBLE) / CAST(COUNT(*) * 1000 AS DOUBLE) AS centroid
    FROM (
      SELECT label, i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS qval
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    )
    GROUP BY label, dim
    """,
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup one-pass, sign-cell blocked)


@register(
    "dedup_semantic",
    "SemDeDup-style semantic dedup over embeddings: docs are blocked "
    "into 16 deterministic cells (sign bits of the first 4 quantized "
    "dims — axis-aligned LSH, so the oracle can recompute it in SQL), "
    "and any doc with a LOWER-id in-cell neighbor at cosine ≥ 0.35 is "
    "dropped in favour of that representative. Integer-quantized "
    "cosine (exact cross-engine); the candidate join is the salted "
    "in-cell equi-join — never all-pairs.",
    """
    WITH w AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(range(1, 5),
                  p -> CASE WHEN qv[p] > 0 THEN CAST(2 ** (p - 1) AS BIGINT)
                            ELSE 0 END)) AS INTEGER) AS cell,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      FROM w
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                 i -> a.qv[i] * b.qv[i])) AS DOUBLE)
            / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) >= 0.35
    )
    SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.35)


# ---------------------------------------------------------------------------
# Scalar quantization (int8 vector-index compression)


@register(
    "embedding_scalar_quantize",
    "Vector-index scalar quantization: per-dimension [min,max] over the "
    "corpus maps every value to an integer code floor((x-mn)/(mx-mn)"
    "·255) clamped to [0,255]; parity evidence per vector is the exact "
    "integer code sum plus the max absolute reconstruction error "
    "(order-free aggregates; floor sidesteps round-half divergence; a "
    "corpus-constant dimension pins to code 0 on both engines rather "
    "than hitting 0/0 — NaN on Spark, a CAST error in DuckDB). "
    "Scale: one posexplode (×dims), a dims-sized stats broadcast, one "
    "re-aggregation — no collect, no driver state.",
    """
    WITH x AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) t(i)
    ),
    stats AS (
      SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY dim
    ),
    coded AS (
      SELECT vec_id, x.x, mn, mx,
             CASE WHEN mx = mn THEN 0
                  ELSE LEAST(GREATEST(
                         CAST(floor((x.x - mn) / (mx - mn) * 255) AS BIGINT),
                         0), 255)
             END AS code
      FROM x JOIN stats USING (dim)
    )
    SELECT vec_id,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           MAX(abs(x - (mn + CAST(code AS DOUBLE) / 255 * (mx - mn)))) AS max_abs_err
    FROM coded
    GROUP BY vec_id
    """,
)
def q_embedding_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.scalar_quantize_stats(emb)


# ---------------------------------------------------------------------------
# kNN graph construction (every node's top-k neighbors, blocked)


@register(
    "knn_graph_blocked",
    "k-nearest-neighbor graph over embeddings, k=3, within label "
    "blocks: the all-nodes neighbor structure that graph ANN indices "
    "(HNSW/NSG) and graph-based dedup build on — distinct from "
    "similarity_topk_* which rank against a small query set. In-block "
    "pairs via the salted equi-join (both directions of each pair "
    "feed the per-node ranking), integer-quantized cosine, window "
    "top-3 per node with (cosine DESC, neighbor) total order. Block "
    "size bounds the candidate count: B docs per block → B² pairs, "
    "never corpus²; at scale blocks come from IVF cells or LSH "
    "buckets instead of labels (same plan shape).",
    """
    WITH w AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      FROM w
    ),
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                  i -> a.qv[i] * b.qv[i])) AS DOUBLE)
               / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cosine
      FROM q a JOIN q b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT src, dst, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rk
      FROM pairs
    ) WHERE rk <= 3
    """,
)
def q_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_pairs(
        emb, threshold=-1.0, block_col="label", salt=8
    )
    # cosine_pairs emits each unordered pair once (id_a < id_b); the kNN
    # graph ranks DIRECTED edges, so mirror each pair in-row before the
    # window: a union of two projections would run the pair join twice
    def edge(src: str, dst: str):
        return F.struct(F.col(src).alias("src"), F.col(dst).alias("dst"), F.col("cosine"))

    directed = pairs.select(
        F.explode(F.array(edge("id_a", "id_b"), edge("id_b", "id_a"))).alias("e")
    ).select("e.*")
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        directed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("src", "dst", "cosine", F.col("rk").cast("int").alias("rk"))
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
        _l2sq(F.col("q"), F.col("cq")).alias("d2"),
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
        _l2sq(F.col("sv"), F.col("cv")).alias("d2"),
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
# Linear-kernel MMD between embedding label groups (drift test)
# ---------------------------------------------------------------------------


@register(
    "embedding_mean_shift_mmd",
    "Embedding-distribution drift between label groups: squared MMD "
    "with the linear kernel, which collapses to ||mean_a - mean_b||^2 "
    "— computable EXACTLY from per-group quantized coordinate sums "
    "(no pairwise anything: one posexplode agg bounded by "
    "|labels| x dims, then a label-pair join on that tiny table). "
    "Common-denominator form avoids fractional means: diff_d = "
    "s_a_d*n_b - s_b_d*n_a is an exact int64; its square accumulates "
    "in DECIMAL(38,0)/HUGEINT past 2^53, and the final value emits via "
    "the exact quotient+remainder double split (twap pattern, "
    "CROSS_ENGINE rule on HUGEINT->DOUBLE double-rounding), scaled by "
    "the quantization factor 1e6. Top-10 most-drifted pairs, "
    "deterministic tiebreak.",
    """
    WITH q AS (
      SELECT label, d,
             CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
      FROM (SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings)
    ),
    g AS (
      SELECT label, d, CAST(SUM(qx) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY label, d
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             a.n AS n_a, b.n AS n_b,
             SUM(CAST(a.s * b.n - b.s * a.n AS HUGEINT)
                 * CAST(a.s * b.n - b.s * a.n AS HUGEINT)) AS num
      FROM g a JOIN g b ON a.d = b.d AND a.label < b.label
      GROUP BY a.label, b.label, a.n, b.n
    ),
    final AS (
      SELECT label_a, label_b, n_a, n_b,
             CAST(n_a * n_b AS BIGINT) * CAST(n_a * n_b AS BIGINT) AS den,
             num
      FROM pairs
    )
    SELECT label_a, label_b, n_a, n_b,
           (CAST(CAST(num // den AS BIGINT) AS DOUBLE)
            + CAST(CAST(num % den AS BIGINT) AS DOUBLE)
              / CAST(den AS DOUBLE)) / 1000000.0 AS mmd2
    FROM final
    ORDER BY mmd2 DESC, label_a, label_b
    LIMIT 10
    """,
)
def q_embedding_mean_shift_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode("embedding").alias("d0", "x")
    ).select(
        "label",
        (F.col("d0") + 1).alias("d"),
        # cast float->double BEFORE scaling (similarity.quantize's rule:
        # float32 multiply rounds differently than DuckDB's promotion)
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias("qx"),
    )
    g = q.groupBy("label", "d").agg(
        F.sum("qx").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a, b = g.alias("a"), g.alias("b")
    diff = F.col("a.s") * F.col("b.n") - F.col("b.s") * F.col("a.n")
    pairs = (
        a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(
            F.sum(diff.cast("decimal(38,0)") * diff.cast("decimal(38,0)")).alias("num")
        )
        .withColumn(
            "den",
            (F.col("n_a") * F.col("n_b")).cast("bigint")
            * (F.col("n_a") * F.col("n_b")).cast("bigint"),
        )
    )
    quot = F.expr("CAST(num DIV den AS BIGINT)").cast("double")
    rem = F.expr("CAST(num % den AS BIGINT)").cast("double")
    return (
        pairs.select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            ((quot + rem / F.col("den").cast("double")) / F.lit(1000000.0)).alias(
                "mmd2"
            ),
        )
        .orderBy(F.desc("mmd2"), "label_a", "label_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classification accuracy (quantized, exact)
# ---------------------------------------------------------------------------


@register(
    "nearest_centroid_accuracy",
    "Nearest-centroid classification accuracy over the embedding "
    "corpus: per-label centroids in twice-quantized integer space "
    "(coordinate sums exact; centroid component = (sum*1000) DIV n), "
    "every vector scored against every centroid by exact integer "
    "squared distance, argmin via the collision-free encode "
    "score*100 + label (score < 4e15, labels < 100 — rule 23's "
    "composite-argmax workaround). Scoring explodes (row, dim, label): "
    "fan-out is dims x |labels| per row — bounded by the model size, "
    "the same budget a real nearest-centroid scorer spends; the "
    "centroid table broadcasts. Output: per-true-label accuracy.",
    """
    WITH q AS (
      SELECT vec_id, label, d,
             CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
      FROM (SELECT vec_id, label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings)
    ),
    cent AS (
      SELECT label AS clabel, d,
             CAST(SUM(qx) * 1000 // COUNT(*) AS BIGINT) AS cq
      FROM q GROUP BY label, d
    ),
    scores AS (
      SELECT q.vec_id, q.label, c.clabel,
             CAST(SUM((q.qx * 1000 - c.cq) * (q.qx * 1000 - c.cq))
                  AS BIGINT) AS dist2
      FROM q JOIN cent c ON c.d = q.d
      GROUP BY q.vec_id, q.label, c.clabel
    ),
    preds AS (
      SELECT vec_id, label,
             CAST(MIN(dist2 * 100 + clabel) % 100 AS BIGINT) AS pred
      FROM scores GROUP BY vec_id, label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm
    FROM preds GROUP BY label
    """,
)
def q_nearest_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale caveat (round-10 sf100 audit): the docstring's "bounded by
    the model size" holds only while the model IS bounded. Under the
    synthetic scale-up the label count grows with the corpus (by
    design — a 10x corpus has more clusters), so scoring work is
    n_vecs x n_labels x dims = 1.28e8 / 1.28e10 / 1.28e12 rows at
    sf1/10/100: inherently QUADRATIC across decades for any exact
    plan. The measured 0.96x/R over decade 2 was an illusion —
    sf1 ran overhead-dominated (~1e8 rows/s) while sf10 ran at
    throughput (~1e9 rows/s), masking the x100 work growth; at sf100
    the x100 bites for real and the exploded aggregate's shuffle
    (~6e8 partial groups/task) also exceeds single-box disk. The
    production posture at 100 TB is a CAPPED/compressed model (fixed
    label set -> work linear in n_vecs again) or an exact-pruned
    scorer (Elkan bounds); the registry keeps the all-pairs semantics
    because that is what the oracle specifies. See docs/SCALING.md
    round-10 third-decade table."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("d0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        # float->double before scaling (similarity.quantize's rule)
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias("qx"),
    )
    cent = q.groupBy(F.col("label").alias("clabel"), "d").agg(
        F.expr("CAST(SUM(qx) * 1000 DIV COUNT(*) AS BIGINT)").alias("cq")
    )
    scores = (
        q.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("qx") * 1000 - F.col("cq"))
                * (F.col("qx") * 1000 - F.col("cq"))
            )
            .cast("bigint")
            .alias("dist2")
        )
    )
    preds = scores.groupBy("vec_id", "label").agg(
        (F.min(F.col("dist2") * 100 + F.col("clabel")) % 100)
        .cast("bigint")
        .alias("pred")
    )
    return preds.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# ---------------------------------------------------------------------------
# Search ranking metrics: NDCG@5 + MRR for the ANN retrieval path
# ---------------------------------------------------------------------------

# Integer DCG discounts: trunc(1e6 / log2(i+1)) for positions 1..5 —
# constants of the METRIC definition (identical literals in both
# dialects), so no libm log enters either engine at query time.
_DISC_CASE = (
    "CASE {r} WHEN 1 THEN 1000000 WHEN 2 THEN 630929 WHEN 3 THEN 500000 "
    "WHEN 4 THEN 430676 ELSE 386852 END"
)


@register(
    "search_ranking_metrics",
    "Graded ranking quality of the sign-LSH ANN path: per query, "
    "NDCG@5 and reciprocal rank of the LSH top-5 against the exact "
    "brute-force top-5 as graded ground truth (relevance 5..1 by true "
    "rank; unretrieved truth = relevance 0). DCG uses integer "
    "discounts trunc(1e6/log2(i+1)) — metric constants, not runtime "
    "logs — so DCG/IDCG are exact BIGINTs and NDCG is one truncating "
    "DIV in ppm; MRR is 1e6 DIV first-relevant-rank. Alongside "
    "recall@5 evals this completes the IR measurement story: recall "
    "counts hits, NDCG weighs WHERE they landed. Scale: both arms are "
    "the existing top-k operators (broadcast query side, bucket "
    "equi-join); the metric join touches 5 rows per query.",
    f"""
    WITH w AS ({{duck_q}}),
    truth AS (
      SELECT query_id, neighbor_id, rank AS truth_rank FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY {{duck_cos}} DESC, a.vec_id) AS rank
        FROM w a JOIN w b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    bkt AS (SELECT vec_id, qv, n2, {{lsh_bucket}} AS bucket FROM w),
    retr AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY {{duck_cos}} DESC, a.vec_id) AS rank
        FROM bkt a JOIN bkt b
          ON a.bucket = b.bucket AND b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    scored AS (
      SELECT r.query_id, r.rank,
             COALESCE(6 - t.truth_rank, 0) AS rel
      FROM retr r LEFT JOIN truth t
        ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
    ),
    dcg AS (
      SELECT query_id,
             CAST(SUM(rel * ({_DISC_CASE.format(r='rank')})) AS BIGINT)
               AS dcg_micro,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_found,
             MIN(CASE WHEN rel > 0 THEN rank END) AS first_hit
      FROM scored GROUP BY query_id
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM((6 - truth_rank) * ({_DISC_CASE.format(r='truth_rank')}))
                  AS BIGINT) AS idcg_micro
      FROM truth GROUP BY query_id
    )
    SELECT i.query_id,
           CAST(COALESCE(d.n_rel_found, 0) AS BIGINT) AS n_rel_found,
           CAST(COALESCE(d.dcg_micro, 0) AS BIGINT) AS dcg_micro,
           i.idcg_micro,
           CAST((COALESCE(d.dcg_micro, 0) * 1000000) // i.idcg_micro AS BIGINT)
             AS ndcg_ppm,
           CAST(CASE WHEN d.first_hit IS NULL THEN 0
                     ELSE 1000000 // d.first_hit END AS BIGINT) AS rr_ppm
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    """.format(duck_q=_DUCK_Q, duck_cos=_DUCK_COS, lsh_bucket=_lsh_bucket_sql()),
)
def q_search_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, qset, k=5).select(
        "query_id", "neighbor_id", F.col("rank").alias("truth_rank")
    )
    retr = similarity.lsh_topk(emb, qset, k=5, num_planes=_LSH_PLANES).select(
        "query_id", "neighbor_id", "rank"
    )
    scored = retr.join(truth, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "rank",
        F.coalesce(F.lit(6) - F.col("truth_rank"), F.lit(0)).alias("rel"),
    )
    disc_rank = F.expr(_DISC_CASE.format(r="rank"))
    dcg = scored.groupBy("query_id").agg(
        F.sum(F.col("rel") * disc_rank).cast("bigint").alias("dcg_micro"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).cast("bigint").alias("n_rel_found"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_hit"),
    )
    idcg = truth.groupBy("query_id").agg(
        F.sum((F.lit(6) - F.col("truth_rank")) * F.expr(_DISC_CASE.format(r="truth_rank")))
        .cast("bigint")
        .alias("idcg_micro")
    )
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_rel_found"), F.lit(0)).cast("bigint").alias("n_rel_found"),
        F.coalesce(F.col("dcg_micro"), F.lit(0)).cast("bigint").alias("dcg_micro"),
        "idcg_micro",
        F.expr("CAST((COALESCE(dcg_micro, 0) * 1000000) DIV idcg_micro AS BIGINT)").alias(
            "ndcg_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN first_hit IS NULL THEN 0 ELSE 1000000 DIV first_hit END AS BIGINT)"
        ).alias("rr_ppm"),
    )


# ---------------------------------------------------------------------------
# Nearest-centroid margin audit
# ---------------------------------------------------------------------------


@register(
    "classifier_margin_audit",
    "Separation-margin audit of the nearest-centroid classifier: per "
    "vector, margin = (distance to the best WRONG label centroid) - "
    "(distance to its own label centroid), in exact integer quantized "
    "units — positive means correctly separated, and the margin "
    "magnitude is the robustness headroom accuracy alone hides. Same "
    "twice-quantized centroid construction as the accuracy query "
    "(coordinate sums exact, centroid = (sum*1000) DIV n); per-label "
    "margin sums accumulate in DECIMAL(38,0)/HUGEINT (a margin is "
    "< 2^48; corpus sums pass 2^53 at scale) and reach the mean "
    "through the quotient+remainder split. Fan-out bounded by "
    "dims x |labels| per row — the model size, not the corpus square.",
    f"""
    WITH q AS (
      SELECT vec_id, label, d,
             CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qx
      FROM (SELECT vec_id, label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings)
    ),
    cent AS (
      SELECT label AS clabel, d,
             CAST(SUM(qx) * 1000 // COUNT(*) AS BIGINT) AS cq
      FROM q GROUP BY label, d
    ),
    scores AS (
      SELECT q.vec_id, q.label, c.clabel,
             CAST(SUM((q.qx * 1000 - c.cq) * (q.qx * 1000 - c.cq))
                  AS BIGINT) AS dist2
      FROM q JOIN cent c ON c.d = q.d
      GROUP BY q.vec_id, q.label, c.clabel
    ),
    margins AS (
      SELECT vec_id, label,
             MIN(CASE WHEN clabel <> label THEN dist2 END)
               - MIN(CASE WHEN clabel = label THEN dist2 END) AS margin
      FROM scores GROUP BY vec_id, label
    ),
    agg AS (
      SELECT label,
             COUNT(*) AS n_vectors,
             SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS n_separated,
             SUM(margin) AS sum_margin
      FROM margins GROUP BY label
    )
    SELECT label,
           CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(n_separated AS BIGINT) AS n_separated,
           CAST(n_separated * 1000000 // n_vectors AS BIGINT) AS separated_ppm,
           {_split_double('sum_margin').format(**_SPLIT_DUCK)}
             / CAST(n_vectors AS DOUBLE) AS mean_margin
    FROM agg
    """,
)
def q_classifier_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("d0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias("qx"),
    )
    cent = q.groupBy(F.col("label").alias("clabel"), "d").agg(
        F.expr("CAST(SUM(qx) * 1000 DIV COUNT(*) AS BIGINT)").alias("cq")
    )
    scores = (
        q.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("qx") * 1000 - F.col("cq")) * (F.col("qx") * 1000 - F.col("cq"))
            )
            .cast("bigint")
            .alias("dist2")
        )
    )
    margins = scores.groupBy("vec_id", "label").agg(
        (
            F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist2")))
            - F.min(F.when(F.col("clabel") == F.col("label"), F.col("dist2")))
        ).alias("margin")
    )
    agg = margins.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("margin") > 0, 1).otherwise(0)).alias("n_separated"),
        F.sum(F.col("margin").cast("decimal(38,0)")).alias("sum_margin"),
    )
    return agg.select(
        "label",
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.col("n_separated").cast("bigint").alias("n_separated"),
        F.expr("CAST(n_separated * 1000000 DIV n_vectors AS BIGINT)").alias(
            "separated_ppm"
        ),
        (
            F.expr(_split_double("sum_margin").format(**_SPLIT_SPARK))
            / F.col("n_vectors").cast("double")
        ).alias("mean_margin"),
    )


# ---------------------------------------------------------------------------
# Recommendation diversity / coverage eval
# ---------------------------------------------------------------------------


@register(
    "recsys_diversity_eval",
    "Recommendation-quality companions to accuracy: per query, the "
    "intra-list similarity (mean pairwise cosine among its exact "
    "top-5 neighbors — low = diverse results) and the global catalog "
    "coverage of all recommended items. Pairwise cosines are floor-"
    "quantized to ppm BEFORE averaging (rule 5: floor, not round; "
    "and summing already-quantized integers sidesteps double "
    "summation order, rule 1). The pair fan-out is C(5,2)=10 rows "
    "per query — metric cost is per-list constant; the two vector "
    "re-joins shuffle on vec_id only.",
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
    pairs AS (
      SELECT t1.query_id, t1.neighbor_id AS id_a, t2.neighbor_id AS id_b
      FROM truth t1 JOIN truth t2
        ON t2.query_id = t1.query_id AND t1.neighbor_id < t2.neighbor_id
    ),
    paircos AS (
      SELECT p.query_id,
             CAST(floor(({_DUCK_COS}) * 1000000) AS BIGINT) AS cos_ppm
      FROM pairs p
      JOIN w a ON a.vec_id = p.id_a
      JOIN w b ON b.vec_id = p.id_b
    ),
    cov AS (
      SELECT CAST(COUNT(DISTINCT neighbor_id) AS BIGINT) AS n_recommended,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS corpus_size
      FROM truth
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cos_ppm) {{div}} COUNT(*) AS BIGINT) AS ils_ppm,
           c.n_recommended,
           CAST(c.n_recommended * 1000000 {{div}} c.corpus_size AS BIGINT)
             AS coverage_ppm
    FROM paircos CROSS JOIN cov c
    GROUP BY query_id, c.n_recommended, c.corpus_size
    """.format(div="//"),
)
def q_recsys_diversity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, qset, k=5).select("query_id", "neighbor_id")
    pairs = (
        truth.alias("t1")
        .join(
            truth.alias("t2"),
            (F.col("t2.query_id") == F.col("t1.query_id"))
            & (F.col("t1.neighbor_id") < F.col("t2.neighbor_id")),
        )
        .select(
            F.col("t1.query_id").alias("query_id"),
            F.col("t1.neighbor_id").alias("id_a"),
            F.col("t2.neighbor_id").alias("id_b"),
        )
    )
    w = with_quantized(emb).select("vec_id", "qvec", "qnorm2")
    a = w.select(
        F.col("vec_id").alias("id_a"), F.col("qvec").alias("va"), F.col("qnorm2").alias("na")
    )
    b = w.select(
        F.col("vec_id").alias("id_b"), F.col("qvec").alias("vb"), F.col("qnorm2").alias("nb")
    )
    cos = _cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb"))
    paircos = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("query_id", F.floor(cos * 1000000).cast("bigint").alias("cos_ppm"))
    )
    cov = truth.agg(
        F.countDistinct("neighbor_id").cast("bigint").alias("n_recommended")
    ).crossJoin(F.broadcast(emb.agg(F.count(F.lit(1)).cast("bigint").alias("corpus_size"))))
    return (
        paircos.crossJoin(F.broadcast(cov))
        .groupBy("query_id", "n_recommended", "corpus_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr("CAST(SUM(cos_ppm) DIV COUNT(*) AS BIGINT)").alias("ils_ppm"),
        )
        .select(
            "query_id",
            "n_pairs",
            "ils_ppm",
            "n_recommended",
            F.expr("CAST(n_recommended * 1000000 DIV corpus_size AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Cosine-vs-dot ranking disagreement
# ---------------------------------------------------------------------------


@register(
    "similarity_metric_disagreement",
    "Metric-choice eval for retrieval: per query, how much the top-5 "
    "by COSINE differs from the top-5 by raw (un-normalized) DOT "
    "product over the same quantized vectors — overlap count, "
    "Jaccard of the two sets in ppm, and an identical-sets flag. "
    "Norm variance in the corpus makes the two rankings diverge; "
    "this measures whether normalization actually matters on YOUR "
    "data before you pay for it at serving time. Dot ranks are pure "
    "exact integers; both arms broadcast the 10-query side.",
    f"""
    WITH w AS ({_DUCK_Q}),
    cosr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_DUCK_COS} DESC, a.vec_id) AS rank
        FROM w a JOIN w b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    dotr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY list_sum(list_transform(range(1, len(a.qv) + 1),
                                                 i -> a.qv[i] * b.qv[i])) DESC,
                          a.vec_id) AS rank
        FROM w a JOIN w b ON b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    ov AS (
      SELECT c.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM cosr c JOIN dotr d
        ON d.query_id = c.query_id AND d.neighbor_id = c.neighbor_id
      GROUP BY c.query_id
    ),
    qids AS (SELECT DISTINCT query_id FROM cosr)
    SELECT q.query_id,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(o.n_overlap, 0) * 1000000
                // (10 - COALESCE(o.n_overlap, 0)) AS BIGINT) AS jaccard_ppm,
           COALESCE(o.n_overlap, 0) = 5 AS identical_sets
    FROM qids q LEFT JOIN ov o ON o.query_id = q.query_id
    """,
)
def q_similarity_metric_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < 10)
    cosr = similarity.cosine_topk(emb, qset, k=5).select("query_id", "neighbor_id")
    c = with_quantized(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("qvec").alias("vc")
    )
    qq = with_quantized(qset).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("vq")
    )
    scored = (
        c.crossJoin(F.broadcast(qq))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _dot(F.col("vq"), F.col("vc")).alias("dot"))
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    dotr = (
        scored.withColumn("rank", F.row_number().over(wd))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    ov = (
        cosr.join(dotr, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    qids = cosr.select("query_id").distinct()
    return qids.join(ov, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
        F.expr(
            "CAST(COALESCE(n_overlap, 0) * 1000000"
            " DIV (10 - COALESCE(n_overlap, 0)) AS BIGINT)"
        ).alias("jaccard_ppm"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) == 5).alias("identical_sets"),
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
            md5_int(F.col("vec_id").cast("string")) % F.lit(n_buckets),
        )
        .select("vec_id", "label", "hb", "qvec", "qnorm2")
    )

    def pop(on: str, name: str) -> DataFrame:
        cos = _cosine(F.col("qvec_a"), F.col("qnorm2_a"), F.col("qvec_b"), F.col("qnorm2_b"))
        return dedup.pair_join(emb, "vec_id", on, carry=("qvec", "qnorm2")).select(
            F.lit(name).alias("population"), cos.alias("cosine")
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
# Embedding participation ratio (effective dimensionality)
# ---------------------------------------------------------------------------


@register(
    "embedding_participation_ratio",
    "Participation ratio of the embedding space: PR = (sum v_i)^2 / "
    "sum v_i^2 over per-dimension variances — the effective "
    "dimensionality (PR = 64 for isotropic, PR ~ 1 for rank-"
    "collapsed embeddings), the representation-health metric that "
    "decides whether matryoshka truncation and PQ codebooks "
    "(embedding_matryoshka_recall, pq_encode_embeddings) can work "
    "at all. Per-dim variances are TRUNCATED exact integers v_i = "
    "(n*SS_i - S_i^2) DIV n from quantized 1e4-fixed-point "
    "components (the truncation is defined into the statistic and "
    "keeps v_i sums inside BIGINT through sf100 — no split "
    "needed), so the 64-term sums are order-free; PR is one shared "
    "IEEE tree. One posexplode + a 64-row rollup.",
    """
    WITH q AS (
      SELECT i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
    ),
    per AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             SUM(CAST(x AS HUGEINT) * x) AS ss
      FROM q GROUP BY dim
    ),
    v AS (
      SELECT dim, n,
             CAST((CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
                  // n AS BIGINT) AS v_i
      FROM per
    ),
    agg AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
             CAST(COUNT(*) AS BIGINT) AS n_dims,
             CAST(SUM(v_i) AS BIGINT) AS sv,
             SUM(CAST(v_i AS HUGEINT) * v_i) AS svv
      FROM v
    )
    SELECT n_vectors, n_dims,
           (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
             / NULLIF(CAST(svv AS DOUBLE), 0) AS pr_effective_dims
    FROM agg
    """,
)
def q_embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.posexplode("embedding").alias("dim", "vr")).select(
        "dim",
        F.round(F.col("vr").cast("double") * 10000)
        .cast("bigint")
        .alias("x"),
    )
    per = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ss"),
    )
    v = per.select(
        "dim",
        "n",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * ss"
            " - CAST(s AS DECIMAL(38,0)) * s) DIV n AS BIGINT)"
        ).alias("v_i"),
    )
    agg = v.agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum("v_i").cast("bigint").alias("sv"),
        F.sum(F.expr("CAST(v_i AS DECIMAL(38,0)) * v_i")).alias("svv"),
    )
    return agg.select(
        "n_vectors",
        "n_dims",
        # NULLIF guard (rule 40): one vector -> all per-dim variances 0
        F.expr(
            "(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
            " / NULLIF(CAST(svv AS DOUBLE), 0)"
        ).alias("pr_effective_dims"),
    )
