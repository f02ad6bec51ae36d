"""Embedding similarity-search operators (north-star extensions).

Cross-engine exactness strategy: embeddings are quantized to integers
(round(x·1000)), so dot products and squared norms are exact integer
sums — immune to float summation order — and the final cosine is one
IEEE divide/sqrt on exactly-representable inputs, bit-identical in Spark
and DuckDB. (64-dim, |q|≤~1000 ⇒ dot ≤ ~6.4e7, na²·nb² ≤ ~2^49 < 2^53.)

Scale design: every search is key assignment plus one re-rank,
``_topk_cosine``: one cosine expression (``_cosine``) over candidate
(query, neighbor) pairs and a per-query window top-k with a (cosine
desc, id) tie-break. The brute-force top-k broadcasts the (small)
query set and streams the corpus — one map + one per-query top-k
aggregation, no shuffle of the corpus. The LSH, multi-probe and IVF
paths assign each vector a bucket or cell so candidate generation is
an equi-join on it. Corpus self-pairs (``cosine_pairs``) block on a
column and salt the block join with ``joins.salted_join``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.joins import salted_join
from etl_seattle_call_data_spark.operators.util import memo, spread as _spread

# The cross-engine contract: every vector oracle hard-codes ``* 1000``.
QUANT_SCALE = 1000
SQ_LEVELS = 255  # scalar quantization codes 0..255 (int8)
MULTIPROBE_K = 5  # lsh_topk_multiprobe: neighbours per query
MULTIPROBE_PLANES = 8  # lsh_topk_multiprobe: hyperplanes, so 8 probes + the home bucket
SIGN_CELL_BITS = 4  # sign_cell: 2^4 = 16 cells


def quantize(vec_col):
    """array<float> → array<long> by round(double(x)·QUANT_SCALE)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


def _dot(a, b):
    """Integer dot product as one zip_with/aggregate. Measured note
    (local[32], sf0.1): an unrolled per-dimension sum (128 GetArrayItem
    nodes at 64 dims) blows past janino's method-size limits and falls
    back to interpreted projection — 3× SLOWER than this higher-order
    form."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _l2sq(a, b):
    """Integer squared L2 distance, in the same zip_with/aggregate form
    as ``_dot``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _cosine(va, na, vb, nb):
    """Cosine of two quantized vectors with squared norms ``na``/``nb``:
    an exact integer dot product and one IEEE divide/sqrt, so the value
    is bit-identical in Spark and DuckDB."""
    return _dot(va, vb).cast("double") / F.sqrt((na * nb).cast("double"))


def _norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def with_quantized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    q = quantize(vec_col)
    return df.withColumn("qvec", q).withColumn("qnorm2", _norm2(F.col("qvec")))


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int = 8,
    allow_cross_join: bool = False,
) -> DataFrame:
    """Near-duplicate embedding pairs with cosine ≥ threshold, blocked by
    ``block_col`` (e.g. a cluster/label/LSH bucket) so the join is an
    equi-join, not a corpus cross-join.

    ``block_col=None`` is a true O(n²) corpus cross-join — it exists
    only for tiny eval sets, so it must be requested explicitly with
    ``allow_cross_join=True``; otherwise we raise rather than let a
    library user trip a cartesian product silently.

    The block join is salted ``salt`` ways (``joins.salted_join``): one
    block = one join partition otherwise, and the dot-product work
    (CPU-heavy, byte-light — AQE coalesces it to nothing) serializes on
    however many distinct blocks exist. Side A takes a hash of its id
    modulo ``salt``, side B is replicated to every salt value, so each
    pair still meets exactly once and a hot block spreads over ``salt``
    tasks."""
    if block_col is None and not allow_cross_join:
        raise ValueError(
            "cosine_pairs(block_col=None) is an O(n^2) corpus cross-join; "
            "pass a blocking column (cluster/label/LSH bucket) or opt in "
            "explicitly with allow_cross_join=True for tiny eval sets"
        )
    q = with_quantized(_spread(df), vec_col)
    on = [block_col] if block_col else []
    a = q.select(*on, F.col(id_col).alias("id_a"), F.col("qvec").alias("va"), F.col("qnorm2").alias("na"))
    b = q.select(*on, F.col(id_col).alias("id_b"), F.col("qvec").alias("vb"), F.col("qnorm2").alias("nb"))
    if salt > 1:
        joined = salted_join(a, b, on, "id_a", salt)
    else:
        joined = a.join(b, on) if on else a.crossJoin(b)
    cos = _cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb"))
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _corpus_side(df: DataFrame, id_col: str, *key) -> DataFrame:
    """The corpus arm of a re-rank: (key…, neighbor_id, vc, nc)."""
    return df.select(
        *key, F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("vc"), F.col("qnorm2").alias("nc")
    )


def _query_side(df: DataFrame, id_col: str, *key) -> DataFrame:
    """The query arm of a re-rank: (key…, query_id, vq, nq)."""
    return df.select(
        *key, F.col(id_col).alias("query_id"), F.col("qvec").alias("vq"), F.col("qnorm2").alias("nq")
    )


def _topk_cosine(cc: DataFrame, qq: DataFrame, k: int, on: str | None) -> DataFrame:
    """The one exact re-rank behind every top-k search: pair the corpus
    arm ``cc`` with the query arm ``qq`` (``_corpus_side`` /
    ``_query_side``), drop each query's self-match, and keep each
    query's ``k`` best by cosine with a deterministic (cosine desc, id)
    tie-break: (query_id, neighbor_id, rank, cosine).

    ``on=None`` broadcasts the query set against the whole corpus (the
    exact path: the corpus streams, nothing of it shuffles); otherwise
    the arms equi-join on the bucket/cell column ``on`` (the ANN paths)."""
    pairs = cc.crossJoin(F.broadcast(qq)) if on is None else cc.join(qq, on)
    cos = _cosine(F.col("vq"), F.col("nq"), F.col("vc"), F.col("nc"))
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the
    corpus, window top-k per query. The baseline/exact path; see
    ``lsh_topk`` for the ANN path."""
    c = _corpus_side(with_quantized(_spread(corpus), vec_col), id_col)
    qs = _query_side(with_quantized(queries, vec_col), id_col)
    return _topk_cosine(c, qs, k, None)


def _hyperplane_weights(num_planes: int, dims: int) -> list[list[int]]:
    """Deterministic md5-derived hyperplanes: plane p, dim j weight =
    (top 30 bits of the 60-bit md5 int of 'p:j') − 2^29, zero-centered.
    Computed driver-side (hashlib md5 == Spark md5 on the same string):
    the weights are data-independent constants, so hashing them per ROW
    inside the plan would be pure waste (512 md5 calls/row at 8×64)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:15], 16) >> 30) - 2**29
            for j in range(dims)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket(num_planes: int = 8, dims: int = 64):
    """Sign-random-projection bucket id over a qvec column, as an
    Arrow-batched pandas UDF: one int64 matmul against the
    ``_hyperplane_weights`` matrix per batch. 30-bit weights keep each
    projection far inside int64 (|x| ≤ ~10^3·2^29·dims ≈ 2^55 for dims
    ≤ 64). A vector longer than ``dims`` is truncated to the plane and
    a shorter one is zero-padded.

    NOTE: a Catalyst form (one zip_with/aggregate projection per plane)
    gives identical digests but measured slower, so the Python hop
    stays. sf0.1, local[4], 6 alternating fresh processes, memos
    cleared, build + digest, medians: ``similarity_topk_lsh`` warm
    1.61 s with this UDF against 1.90 s, the Catalyst form faster in 1
    of 6 pairs; perfbench ``session_sf0.1``, ``warm_pass_s`` 3.56
    against 3.85 s (Catalyst better in 2 of 6) and ``live_heap_mb``
    112.6 against 113.5 MB (0 of 6)."""
    from pyspark.sql.functions import pandas_udf

    wmat = _hyperplane_weights(num_planes, dims)
    powers = [2**p for p in range(num_planes)]

    @pandas_udf("long")
    def bucket(qvecs: pd.Series) -> pd.Series:
        import numpy as np

        w = np.asarray(wmat, dtype=np.int64)  # (planes, dims)
        pw = np.asarray(powers, dtype=np.int64)
        arrs = qvecs.to_numpy()
        n = len(arrs)
        lengths = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        if n and (lengths == lengths[0]).all():
            # fast path (uniform dims, the normal case): one stacked matmul
            q = np.stack(arrs).astype(np.int64)  # (n, actual_dims)
            m = min(q.shape[1], w.shape[1])
            proj = q[:, :m] @ w[:, :m].T
        else:
            # ragged batch: truncate/zero-pad per row (np.stack would
            # raise); same truncation semantics as the uniform path
            proj = np.zeros((n, w.shape[0]), dtype=np.int64)
            for i, a in enumerate(arrs):
                a = np.asarray(a, dtype=np.int64)
                m = min(len(a), w.shape[1])
                proj[i] = a[:m] @ w[:, :m].T
        return pd.Series(((proj > 0) * pw[None, :]).sum(axis=1))

    return bucket


def _lsh_bucketed(corpus: DataFrame, queries: DataFrame, num_planes: int, vec_col: str):
    """Corpus and queries quantized, each row with its sign-LSH
    ``bucket``."""
    bucket = lsh_bucket(num_planes)
    c = with_quantized(_spread(corpus), vec_col).withColumn("bucket", bucket(F.col("qvec")))
    qs = with_quantized(queries, vec_col).withColumn("bucket", bucket(F.col("qvec")))
    return c, qs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: bucket corpus and queries by sign-LSH, equi-join on the
    bucket, exact re-rank inside. Approximate (single probe); the scale
    path when the corpus no longer fits a broadcast cross-join."""
    c, qs = _lsh_bucketed(corpus, queries, num_planes, vec_col)
    return _topk_cosine(_corpus_side(c, id_col, "bucket"), _query_side(qs, id_col, "bucket"), k, "bucket")


def seeded_centroids(
    corpus: DataFrame, n_cells: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[int]]]:
    """IVF coarse quantizer: the ``n_cells`` lowest-id vectors, quantized,
    as (centroid_id, qvec) sorted by id. Deterministic (no RNG, no
    k-means iteration order), so the cell assignment is oracle-checkable.
    Collected driver-side: a coarse codebook is tiny by definition (this
    is the same footprint as broadcasting trained k-means centers)."""
    rows = (
        with_quantized(corpus.filter(F.col(id_col) < n_cells), vec_col)
        .select(F.col(id_col), F.col("qvec"))
        .collect()
    )
    return sorted((r[0], list(r[1])) for r in rows)


def _with_ivf_cell(df: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Add ``cell`` = argmin over centroids of quantized L2² (ties →
    lowest centroid id, = numpy argmin first-occurrence on id-sorted
    centroids). Vectorized Arrow-batched pandas_udf: one int64 matmul
    per Arrow batch, exact integer math (bit-identical to the DuckDB
    oracle).

    NOTE: the Catalyst form ties, so the Python hop stays. 8
    zip_with/aggregate dot products and a ``least`` over (distance, id)
    structs give identical cells. Built with ``F.lit(list)`` it paid
    4.18 s of build against this UDF's 2.13 s (sf0.1, local[4]):
    PySpark expands a list literal to ``array(lit(x), ...)``, one py4j
    call per element, 512 for an 8×64 matrix. With a numpy-array
    literal that build cost goes, and the two forms tie warm (6
    alternating fresh processes, memos cleared, build + digest,
    medians): ``similarity_topk_ivf`` 1.06 s with the UDF against
    1.02 s, ``similarity_ivf_recall_eval`` 1.95 against 1.93 s, each
    form faster in 3 of 6 pairs."""
    from pyspark.sql.functions import pandas_udf

    cmat = [cq for _, cq in centroids]
    cids = [cid for cid, _ in centroids]

    @pandas_udf("int")
    def assign(qvecs: pd.Series) -> pd.Series:
        import numpy as np

        c = np.asarray(cmat, dtype=np.int64)          # (k, dims)
        ids = np.asarray(cids)
        q = np.stack(qvecs.to_numpy()).astype(np.int64)  # (n, dims)
        # ||q-c||² = q·q - 2 q·c + c·c ; q·q constant per row → drop it
        d = (c * c).sum(axis=1)[None, :] - 2 * (q @ c.T)  # (n, k)
        return pd.Series(ids[np.argmin(d, axis=1)])

    return df.withColumn("cell", assign(F.col("qvec")))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN top-k: assign every vector to its nearest coarse
    centroid cell, equi-join query↔corpus on the cell (single probe),
    exact cosine re-rank inside. The inverted-file alternative to
    ``lsh_topk``: cells follow the data distribution (centroids) instead
    of fixed random hyperplanes. At scale the cell column doubles as the
    physical partition key for the corpus, so one probe = one partition
    read."""
    cents = seeded_centroids(corpus, n_cells, id_col, vec_col)
    # persist the cell-assigned corpus for reuse across queries: in a
    # registry pass (sf0.01, memos kept) similarity_topk_ivf builds the
    # key and similarity_ivf_recall_eval hits it. Within one query the
    # corpus arm has one consumer, so the memo saves nothing there:
    # similarity_topk_ivf at sf0.1 (local[4], memos cleared, 6
    # alternating runs, medians) read 8.89 s with it and 7.89 s
    # without, faster without in 4 of 6 pairs.
    c = memo(
        "ivf_cells", lambda: _with_ivf_cell(with_quantized(_spread(corpus), vec_col), cents)
    )
    qs = _with_ivf_cell(with_quantized(queries, vec_col), cents)
    return _topk_cosine(_corpus_side(c, id_col, "cell"), _query_side(qs, id_col, "cell"), k, "cell")


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid of an embedding column, one row per (label,
    dim) — the class-prototype table used for centroid classification,
    cluster drift checks, and IVF codebook seeding.

    Exactness: dims are posexploded to (label, dim, quantized long), so
    the mean numerator is an exact integer sum; the one double division
    at the end is bit-identical across engines.

    Scale shape: explode multiplies rows by dims (64×) but the partial
    aggregation combines map-side before the one shuffle on (label,
    dim) — cardinality labels×dims, tiny. No collect, no driver state.
    """
    q = with_quantized(df, vec_col)
    ex = q.select(F.col(label_col), F.posexplode("qvec").alias("dim", "qval"))
    return ex.groupBy(label_col, "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("qval").cast("bigint").alias("qsum"),
        (
            F.sum("qval").cast("double")
            / (F.count(F.lit(1)) * QUANT_SCALE).cast("double")
        ).alias("centroid"),
    )


def lsh_probe_buckets(bucket_col, num_planes: int = 8) -> F.Column:
    """Multi-probe bucket list: the home bucket plus every bucket at
    Hamming distance 1 (one sign bit flipped). Sign-LSH's miss mode is
    a near-neighbor landing one hyperplane flip away; probing those
    num_planes neighbors recovers most of that recall WITHOUT extra
    hash tables (Lv et al., VLDB'07 multi-probe idea) — corpus-side
    layout is unchanged, only the query side fans out ×(planes+1)."""
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return F.array(b, *[b.bitwiseXOR(F.lit(2**p)) for p in range(num_planes)])


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-``MULTIPROBE_K`` with Hamming-1 multi-probe over
    ``MULTIPROBE_PLANES`` hyperplanes: bucket corpus once, explode
    each query into its probe list, equi-join on the probed bucket, and
    exact re-rank over the union of candidates.

    Probes are distinct buckets and a corpus row lives in exactly one
    bucket, so candidate (query, neighbor) pairs are already unique — no
    dedup stage. Scale shape matches single-probe lsh_topk: the corpus
    (big side) still shuffles once on its bucket; only the tiny query
    side multiplies by planes+1.
    """
    c, qs = _lsh_bucketed(corpus, queries, MULTIPROBE_PLANES, vec_col)
    probes = F.explode(lsh_probe_buckets("bucket", MULTIPROBE_PLANES)).alias("bucket")
    return _topk_cosine(
        _corpus_side(c, id_col, "bucket"), _query_side(qs, id_col, probes), MULTIPROBE_K, "bucket"
    )


def sign_cell(vec_col):
    """Deterministic cluster cell from the sign bits of the first
    ``SIGN_CELL_BITS`` quantized dimensions — the axis-aligned special
    case of sign-random-projection LSH (hyperplanes = unit axes, so the
    bucket is SQL-expressible on any engine without shipping weights).
    Used as the blocking key for semantic dedup: 2^SIGN_CELL_BITS cells
    partition the corpus so the near-dup join is an equi-join."""
    q = quantize(vec_col)
    cell = F.lit(0)
    for p in range(SIGN_CELL_BITS):
        cell = cell + F.when(q.getItem(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return cell.cast("int")


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int = 8,
) -> DataFrame:
    """SemDeDup-style one-pass semantic deduplication: documents whose
    embeddings are near-identical (cosine ≥ threshold) within a cluster
    cell are collapsed to the lowest-id representative; every doc with a
    LOWER-id in-cell neighbor above threshold is marked dropped.

    One-pass greedy (the common SemDeDup practice): the keep decision
    looks only at pairwise similarity, not at transitive chains — a doc
    similar only to an already-dropped doc still drops, which
    over-prunes slightly versus connected-components (available as
    dedup_clusters) but needs no iteration.

    Scale: candidate generation is the salted in-cell equi-join of
    cosine_pairs (never all-pairs); the keep flag is one left join of
    the id set against the distinct dropped ids."""
    cells = df.withColumn("cell", sign_cell(vec_col))
    pairs = cosine_pairs(
        cells, threshold, block_col="cell", id_col=id_col, vec_col=vec_col, salt=salt
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "__dropped", F.lit(1)
    )
    return (
        cells.select(id_col, "cell")
        .join(dropped, id_col, "left")
        .select(id_col, "cell", F.col("__dropped").isNull().alias("kept"))
    )


def scalar_quantize_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-corpus scalar quantization (the int8 compression step of a
    vector index build): each dimension's [min, max] over the corpus
    maps values to integer codes floor((x-mn)/(mx-mn)·SQ_LEVELS),
    clamped to [0, SQ_LEVELS]. Returns per-vector parity evidence — the exact
    integer code sum and the max absolute reconstruction error — rather
    than reassembled arrays (order-free aggregates hash identically
    cross-engine; ``floor`` avoids round-half rule divergence; a
    corpus-constant dimension maps to code 0 instead of dividing 0/0).

    Scale: posexplode fans the corpus ×dims once; the per-dim stats
    table is dims-sized and broadcasts back; codes re-aggregate per
    vector. No driver-side state, no collect."""
    coded = scalar_codes(df, id_col=id_col, vec_col=vec_col)
    coded = coded.withColumn(
        "err",
        F.abs(
            F.col("x")
            - (F.col("mn") + F.col("code").cast("double") / SQ_LEVELS * (F.col("mx") - F.col("mn")))
        ),
    )
    return coded.groupBy(id_col).agg(
        F.sum("code").alias("code_sum"),
        F.max("err").alias("max_abs_err"),
    )


def scalar_codes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The exploded int8 code table behind ``scalar_quantize_stats``:
    (id, dim, x, mn, mx, code) with code = clamp(floor((x−mn)/(mx−mn)·
    SQ_LEVELS)). Shared by the stats/parity query and the quantization-
    recall eval so both measure the SAME codes. One posexplode, one
    dims-sized broadcast — no collect."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    stats = exploded.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return exploded.join(F.broadcast(stats), "dim").withColumn(
        "code",
        # constant dimension (mx == mn): 0/0 would be NaN on Spark but
        # an error in DuckDB's CAST — pin code 0 on both engines
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * SQ_LEVELS),
                    F.lit(0),
                ),
                F.lit(SQ_LEVELS),
            )
        )
        .cast("long"),
    )
