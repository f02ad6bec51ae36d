"""Deduplication operators for training-data pipelines (north-star
extensions, SURVEY §7.2.8): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design
------------
* Exact dedup: hash-groupBy on a canonical fingerprint — one shuffle on
  the fingerprint key; AQE handles skew (e.g. empty documents).
* Jaccard / MinHash / SimHash candidate generation NEVER cross-joins the
  corpus: candidates come from one self-join, ``pair_join``, on shared
  shingles, LSH band buckets, or SimHash sub-block combinations — a
  shuffle-on-key join that scales linearly with (near-)duplicate
  density, not quadratically with corpus size. Verification (shared
  count, Jaccard, Hamming, edit distance) runs on its pairs only.
* SimHash blocking is exact by pigeonhole: any pair at Hamming distance
  ≤ 3 agrees on at least one sub-block combination — no recall loss
  for the supported threshold.
* All hashing is md5-hex based (not xxhash) so results are reproducible
  across engines — required by the DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators.sketch import portable_hash_int
from etl_seattle_call_data_spark.operators.text import canonical_text, tokens
from etl_seattle_call_data_spark.operators.util import checkpoint, memo, spread as _spread

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit integer
SHINGLE_N = 3  # words per shingle
MINHASH_HASHES = 8  # MinHash signature length
MINHASH_ROWS_PER_BAND = 2  # LSH band width: 4 bands of 2 rows
PASSJOIN_K = 3  # edit-distance bound of passjoin_candidate_pairs
CONTAMINATION_FLAG = 0.5  # contamination_overlap: overlap fraction that flags a doc


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups on the canonical-text fingerprint: one row
    per distinct content with the representative (min id) and copy count."""
    return (
        df.select(F.col(id_col), F.md5(canonical_text(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("representative_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word ``SHINGLE_N``-gram shingles per document: (id, shingle)."""
    n = SHINGLE_N
    toks = tokens(F.col(text_col)).alias("__t")
    base = _spread(df).select(F.col(id_col), toks)
    grams = F.when(
        F.size(F.col("__t")) >= n,
        F.expr(f"transform(sequence(0, size(__t) - {n}), i -> array_join(slice(__t, i + 1, {n}), ' '))"),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(F.col(id_col), F.explode(grams).alias("shingle")).distinct()


def cap_document_frequency(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` — the
    CCNet/suffix-array-style hot-key bound for shared-shingle joins.

    Without it a shingle present in k documents contributes k² candidate
    pairs to the self-join: one boilerplate shingle in 1M docs is a
    10¹²-pair hot key, the quadratic blow-up that kills shared-token
    joins at corpus scale. With the cap, per-shingle fan-out is ≤
    max_df², so candidate volume is linear in corpus size for fixed
    max_df. High-DF shingles are boilerplate (headers, license text) and
    carry no near-duplicate signal, which is why dropping them from the
    representation (sizes AND intersections, keeping Jaccard internally
    consistent) is the standard trick.

    The hot-shingle set is small by construction (≤ total_occurrences /
    max_df rows) — AQE picks a broadcast anti-join when it fits."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via a shared-shingle
    equi-join (no cross join): |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|.

    ``max_df`` (strongly recommended at scale) bounds the per-shingle
    join fan-out — see ``cap_document_frequency``.

    ``shingles``: caller-supplied (id, shingle) frame that must equal
    ``shingle_sets(df, id_col, text_col)`` semantically. Shingling is
    per-document, so a caller working on a FILTERED corpus can derive
    its shingle set from an already-cached full-corpus table with one
    semi-join instead of re-tokenizing (corpus_clean_pipeline does)."""
    # persist the exploded shingle set: it feeds the pair join twice and
    # the size aggregation — without it Catalyst re-tokenizes the corpus
    # once per branch (observed: 8 parquet scans in the un-persisted plan).
    # The UNCAPPED set is cached under the key the MinHash pipeline also
    # uses ("doc_shingles"): on the same corpus the two operators share
    # one tokenize+explode+distinct via memo's sameSemantics reuse,
    # and the cap is a cheap derivation on top of the shared cache.
    if shingles is not None:
        sh = shingles
    else:
        sh = memo("doc_shingles", lambda: shingle_sets(df, id_col, text_col))
    if max_df is not None:
        sh = _capped_shingles(sh, max_df)
    inter = _shared_shingle_pairs(sh, id_col)
    return _jaccard_from_intersections(sh, inter, id_col, threshold)


def _capped_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """The df-capped shingle table ``jaccard_pairs`` and
    ``containment_pairs`` share, memoized hash-partitioned on
    ``shingle``: the shared-shingle self-join then reads both arms from
    the cache with no exchange. Against shuffling each arm from an
    unpartitioned cache, one traced benchmark session measured shuffle
    write 29.2 → 24.1 MB and executor CPU 14.3 → 11.7 s."""
    return memo("jaccard_shingles", lambda: cap_document_frequency(sh, max_df).repartition("shingle"))


def pair_join(keyed: DataFrame, id_col: str, keys, carry=()) -> DataFrame:
    """Every pair of rows of ``keyed`` that share ``keys``:
    ``(id_a, <c>_a…, keys…, id_b, <c>_b…)`` for each ``c`` in ``carry``,
    keeping only ``id_a < id_b``. The one candidate-generation step of
    the dedup/similarity family's filter-and-verify shape: callers
    block on shared shingles, LSH bands, SimHash sub-block combinations
    or positional shingle hashes, then verify (count, Jaccard, Hamming,
    cosine) on the pairs. A pair sharing several keys comes out once
    per shared key; callers that want it once aggregate or dedupe.

    Arm b is a shuffled hash join build side by hint, never a
    broadcast. The keyed table scales with the corpus, and AQE
    broadcasts whichever arm happens to fit 10 MB at a small scale
    factor: at sf0.1 one shingle arm (266k rows) does, as a 42 MB hash
    relation, and so does the MinHash band table (20k rows, 35 MB).
    When the pair table is then held by ``util.memo`` (``jaccard_pairs``,
    ``jaccard_exact_t05``, ``cc_pairs``, ``lsh_candidates``), the cache
    entry keeps its whole physical plan, and that relation stays on the
    driver heap until the key is evicted: 38–67 MB of live heap per key
    by ``tools/memo_audit.py``, against 2–15 MB with the hint.
    Over a table already hash-partitioned on ``keys`` (``_capped_shingles``)
    both arms read the partitioned cache and the join shuffles nothing;
    otherwise each arm is shuffled once on ``keys``. Fan-out per key is
    the square of its population, which is why the shingle callers cap
    document frequency first (``cap_document_frequency``)."""
    keys = [keys] if isinstance(keys, str) else list(keys)

    def arm(side: str) -> list:
        return [F.col(id_col).alias(f"id_{side}")] + [F.col(c).alias(f"{c}_{side}") for c in carry]

    a = keyed.select(*arm("a"), *keys)
    b = keyed.select(*arm("b"), *keys).hint("shuffle_hash")
    out = ["id_a", *(f"{c}_a" for c in carry), *keys, "id_b", *(f"{c}_b" for c in carry)]
    return a.join(b, keys).filter(F.col("id_a") < F.col("id_b")).select(*out)


def _shared_shingle_pairs(sh: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, n_inter) for every pair sharing ≥1 shingle."""
    return (
        pair_join(sh, id_col, "shingle")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _with_set_sizes(sh: DataFrame, inter: DataFrame, id_col: str) -> DataFrame:
    """``inter`` with each side's shingle-set size (size_a, size_b)."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def _jaccard_from_intersections(
    sh: DataFrame, inter: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    return (
        _with_set_sizes(sh, inter, id_col)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_from_shingles(sh: DataFrame, id_col: str) -> DataFrame:
    """``MINHASH_HASHES``-long MinHash signature per document: for each
    seed s, the lexicographic min of md5('s:' || shingle) — identical
    hex across engines, so the signature is engine-independent."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"h{s}")
        for s in range(MINHASH_HASHES)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_hashes() -> list:
    """md5 of each LSH band's concatenated signature rows, band by band."""
    r = MINHASH_ROWS_PER_BAND
    return [
        F.md5(F.concat(*[F.col(f"h{i * r + j}") for j in range(r)]))
        for i in range(MINHASH_HASHES // r)
    ]


def minhash_band_candidates(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LSH candidate pairs from a shingle table — the PRE-verification
    band bucket join, exposed so eval harnesses can measure candidate
    recall/precision against exact Jaccard (dedup_lsh_recall_eval).
    Banded (band_idx, band_val) equi-join; fan-out bounded by bucket
    population, never corpus²."""
    sig = _minhash_from_shingles(sh, id_col)
    bands = F.array(
        *[F.struct(F.lit(i).alias("band_idx"), h.alias("band_val")) for i, h in enumerate(_band_hashes())]
    )
    banded = sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    return pair_join(banded, id_col, ["band_idx", "band_val"]).select("id_a", "id_b").distinct()


def minhash_band_keys(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One ``(id, band_key)`` row per document per LSH band, where
    ``band_key = '<band_idx>:' || md5(concat of the band's signature
    rows)`` — the KEYED form of the banded LSH scheme: two documents
    are candidate near-duplicates iff they share at least one band_key.

    This is what a streaming near-dup gate stores and anti-joins
    against (streaming/dedup_gate.near_dedup_writer): the store holds
    band keys, an incoming batch is a candidate-duplicate when any of
    its n_bands keys hits. Documents shorter than the shingle width
    produce NO band keys (no shingles → no signature) and therefore
    never match — callers must treat keyless docs as novel."""
    sig = _minhash_from_shingles(shingle_sets(df, id_col, text_col), id_col)
    bands = F.array(*[F.concat(F.lit(f"{i}:"), h) for i, h in enumerate(_band_hashes())])
    return sig.select(F.col(id_col), F.explode(bands).alias("band_key"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash LSH near-duplicate pairs: band the signature, bucket-join
    on (band index, band value) for candidates, then verify with exact
    Jaccard ≥ threshold (no false positives; recall set by the banding)."""
    # one persisted shingle set feeds signatures, candidate verification,
    # and set sizes — the whole LSH pipeline tokenizes the corpus ONCE
    # (key shared with jaccard_pairs: same corpus → same cache)
    sh = memo("doc_shingles", lambda: shingle_sets(df, id_col, text_col))
    candidates = memo("lsh_candidates", lambda: minhash_band_candidates(sh, id_col=id_col))
    # verify ONLY the candidate pairs: restrict the shared-shingle
    # intersection join to candidates instead of computing all-pairs
    # Jaccard (LSH exists precisely to avoid that work). Restriction goes
    # one level deeper than filtering pairs: the shingle table itself is
    # semi-joined down to candidate DOCS first (identical result — rows
    # for non-candidate docs cannot survive the inner joins), so the
    # intersection equi-join and the set-size aggregation run over the
    # few-candidates-sized table and AQE broadcasts them, instead of
    # shuffling the full corpus-sized shingle table on (doc, shingle).
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Heap: this key holds 4 MB of live driver heap (tools/memo_audit.py,
    # sf0.1). Its one broadcast is the candidate-id set (853 rows, 1 MB),
    # bounded by the candidate pairs, not by the corpus.
    sh_cand = memo("lsh_cand_shingles", lambda: sh.join(cand_ids, id_col, "left_semi"))
    sh_a = sh_cand.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh_cand.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_from_intersections(sh_cand, inter, id_col, threshold)


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_fp_col: str | None = None,
    new_fp_col: str | None = None,
) -> DataFrame:
    """Documents in ``new_docs`` whose canonical fingerprint does NOT
    already exist in ``corpus`` — the incremental-crawl shape: dedup a
    new batch against an existing (much larger) reference corpus without
    recomputing the corpus side's groups.

    Plan: fingerprint both sides (narrow map) + one left-anti equi-join
    on the fingerprint. At scale the corpus side is a pre-computed
    fingerprint table (store it once, anti-join each new batch — pass
    its fingerprint column name as ``corpus_fp_col`` to skip re-hashing;
    streaming/dedup_gate.py feeds the KeyedUpsertSink-backed store this
    way); the anti-join shuffles only fingerprints, never document
    bodies. Either side may arrive pre-hashed: ``new_fp_col`` mirrors
    ``corpus_fp_col`` for a batch that already carries its fingerprint
    (the dedup gate's within-batch collapse computes it first — without
    this the canonicalize+hash pass would run twice per epoch)."""
    fp = F.md5(canonical_text(F.col(text_col))).alias("fingerprint")
    if new_fp_col is None:
        new_fp = new_docs.select(F.col(id_col), fp)
    else:
        new_fp = new_docs.select(
            F.col(id_col), F.col(new_fp_col).alias("fingerprint")
        )
    if corpus_fp_col is None:
        corpus_fp = corpus.select(fp)
    else:
        corpus_fp = corpus.select(F.col(corpus_fp_col).alias("fingerprint"))
    return new_fp.join(corpus_fp, "fingerprint", "left_anti").select(id_col, "fingerprint")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → duplicate
    CLUSTERS: (doc_id, cluster_id) with cluster_id = min member id. The
    step after pair generation in every dedup pipeline: pairs say "A≈B";
    clusters decide which rows to keep (one representative per
    component).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbours, until no label
    changes. There is no round cap: a capped loop returns unconverged
    labels on a graph whose diameter exceeds the cap, silently unlike
    the full closure the oracles compute. The loop always ends, because
    a label only ever decreases and is bounded below by the smallest
    id. Rounds needed = graph diameter + 1; near-dup components are
    overwhelmingly small/star-shaped (they come from shared buckets),
    so this converges in a few rounds. Each round is one
    equi-join + one groupBy — all shuffle-on-key, nothing quadratic.
    The driver-side loop/convergence count is control flow, not data
    movement (the same pattern GraphX/GraphFrames uses; swap in
    pointer-doubling if a pathological chain-shaped graph ever matters).

    Only nodes appearing in ≥1 pair are returned (singletons are their
    own trivial cluster by definition)."""
    # persist the pair list BEFORE unioning its two directed copies: the
    # union's branches would otherwise each recompute the (expensive)
    # upstream pair pipeline — measured 2× the whole Jaccard join at
    # sf0.1. No eager count: the first round's action fills this memo
    # and the edge memo below in one job. No distinct() needed: pairs are
    # unique with id_a < id_b, so the two directed copies cannot collide
    # (and min-label propagation is idempotent under duplicate edges
    # anyway).
    # Heap: over corpus_clean_pipeline's pairs this key holds 15 MB of
    # live driver heap for 3.9 KB of cached rows (tools/memo_audit.py,
    # sf0.1, one registry pass). The plan keeps four 1.1 MB per-document
    # broadcasts (4,451 rows): the two set-size tables of
    # ``_jaccard_from_intersections``, and the surviving-id semi-joins
    # inside the capped shingle memo it was built on, which a later
    # query evicts while its plan lives on here. They stay broadcast:
    # one row per document is 1/60 of the shingle table, and hinting
    # the size joins to shuffle measured dedup_ngram_jaccard at 3.42 s
    # against 2.70 s (best of 4 on a loaded host).
    pairs_p = memo("cc_pairs", lambda: pairs.select(F.col(id_a), F.col(id_b)))
    directed = pairs_p.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        pairs_p.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # r11: pin repartition(src) UNDER the persist (the
    # memo_copurchase_edges pattern): every round's neighbour-min join
    # and the label-init distinct then satisfy their required
    # distribution from the cache, so the edge frame is shuffled ZERO
    # times per round — only the node-scale label frame moves. Measured
    # 4.5/4.8 s → 3.7 s warm-cache corpus_clean_pipeline at sf0.1.
    edges = memo("cc_edges", lambda: directed.repartition(F.col("src")))
    # Every generation (0 included) is read twice per round — the
    # neighbour-min probe and the update join — and is checkpointed:
    # without the barrier each round re-runs the previous generation's
    # plan twice, and chained generations would nest their logical plans
    # (linear-in-rounds growth that blows the driver heap when a caller
    # composes joins over the cluster table). The count materializes the
    # new generation while its parent's blocks are still referenced; the
    # parent is then dropped and freed by GC (GraphX cuts lineage between
    # Pregel rounds the same way).
    labels = checkpoint(
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    while True:
        neighbour_min = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        updated = checkpoint(
            labels.join(neighbour_min, "node", "left").select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                (F.col("nmin") < F.col("label")).alias("__changed"),
            )
        )
        n_changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-bit SimHash per document over unigram tokens (with
    multiplicity): bit j is 1 iff the sum over tokens of ±1 (sign of the
    token hash's bit j) is positive. One explode + one grouped
    aggregation — no quadratic work.

    ``bits`` is the corpus-scale dial (<= 60: the per-token md5 slice
    feeding the bit votes, and a signed-long signature). Widths past 60
    need a multi-word signature (array<long> + a second md5 slice) —
    out of scope until a corpus actually approaches 2^30 docs."""
    assert 1 <= bits <= SIMHASH_BITS, "single-long signatures carry <= 60 bits"
    # materialize the token hash ONCE per token before the aggregation:
    # referencing the md5 expression inside all 60 aggregates would lean
    # on codegen subexpression elimination to avoid 60 md5 calls/token
    tok = (
        _spread(df)
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(F.col(id_col), portable_hash_int("tok").alias("hv"))
    )
    h = F.col("hv")
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    value = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        value = term if value is None else value + term
    return bit_sums.select(F.col(id_col), value.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sig: DataFrame | None = None,
    bits: int = SIMHASH_BITS,
    n_blocks: int = 6,
) -> DataFrame:
    """Near-duplicate pairs with Hamming(simhash) ≤ max_hamming, found via
    combination blocking (Manku et al., WWW'07 block-permutation scheme):
    the ``bits``-bit signature splits into ``n_blocks`` sub-blocks; ≤
    max_hamming differing bits touch ≤ max_hamming sub-blocks, so ≥
    match_blocks = n_blocks − max_hamming sub-blocks are untouched and
    every qualifying pair agrees on at least one of the
    C(n_blocks, match_blocks) sub-block COMBINATIONS — recall is exact
    by pigeonhole, same as banding. Defaults (60, 6, 3) give the
    C(6,3)=20 10-bit-triple scheme.

    Why combinations and not the naive 4×15-bit bands: band blocking
    keys into a FIXED 2^15 space, so candidate volume is n²·4/2^15 — a
    constant-block quadratic (the class the round-8 audit flagged).
    Triple keys are 30 bits: candidate volume ≈ n²·20/2^30 for
    SimHash-uniform fingerprints, 1638× lower, at the cost of 20 keys
    per doc instead of 4 (a bounded 5× explode). The residual
    fixed-width quadratic term is inherent to ANY fixed-width
    fingerprint; past ~10^9 docs the production answer is widening the
    fingerprint so key bits track log2(n) — now literally this
    function's (bits, n_blocks) arguments, with the pigeonhole assert
    generalized (single-long signatures cap bits at 60; past that the
    signature goes multi-word, see simhash()). Output pairs are
    IDENTICAL under every blocking config (the blocking is internal;
    the pair set is defined by Hamming ≤ max_hamming)."""
    import itertools

    match_blocks = n_blocks - max_hamming
    assert match_blocks >= 1, (
        f"pigeonhole needs n_blocks > max_hamming ({n_blocks} <= {max_hamming}:"
        " some qualifying pair could differ in every sub-block)"
    )
    assert bits % n_blocks == 0, f"bits={bits} must split evenly into {n_blocks} blocks"
    width = bits // n_blocks
    assert match_blocks * width <= 62, "band_val must fit a signed long"
    # persist: the signature table (one row/doc) feeds BOTH sides of the
    # band self-join; without it the tokenize+60-agg pipeline runs twice.
    # Callers holding an already-persisted signature table (plans layer
    # memoization) pass it via ``sig`` and skip the rebuild entirely
    # (theirs must carry >= ``bits`` low bits — the default memo does).
    if sig is None:
        sig = memo(f"simhash_sig_{bits}", lambda: simhash(df, id_col, text_col, bits=bits))

    def sub(i: int):
        return F.shiftright(F.col("simhash"), i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    combos = list(itertools.combinations(range(n_blocks), match_blocks))
    bands = F.array(
        *[
            F.struct(
                F.lit(ci).alias("band_idx"),
                sum(
                    (sub(blk) * F.lit(1 << (width * pos)) for pos, blk in enumerate(combo)),
                    F.lit(0),
                ).cast("long").alias("band_val"),
            )
            for ci, combo in enumerate(combos)
        ]
    )
    banded = sig.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")).select(
        id_col, "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        pair_join(banded, id_col, ["band_idx", "band_val"], carry=("simhash",))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cluster_representatives(
    components: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one representative per duplicate cluster — the decision step
    that turns near-dup clusters into a keep/drop list: keep the highest-
    quality member (ties broken by smallest id, so the choice is
    deterministic), drop the rest.

    One broadcast-or-shuffle join to attach the quality signal + one
    window top-1 per cluster. Cluster cardinality is small by
    construction (near-dup components), so the window partition never
    skews."""
    from pyspark.sql.window import Window

    scored = components.join(docs.select(F.col(id_col), F.col(quality_col)), on=id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("cluster_id"),
            F.col(id_col).alias("rep_doc_id"),
            F.col(quality_col).alias("rep_" + quality_col),
        )
        .join(
            components.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members")),
            on="cluster_id",
        )
    )


def passjoin_candidate_pairs(
    names: DataFrame,
    string_col: str,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Edit-distance (k = ``PASSJOIN_K``) candidate pairs via PassJoin
    chunk keys (Li, Deng, Feng — SIGMOD'11 partition scheme): each
    string splits into k+1 even chunks; if ed(a, b) <= k then at least
    one of a's chunks is untouched by any edit and therefore appears in
    b VERBATIM at a position shifted by at most k (the net
    insert/delete drift before it). Candidates come from an equi-join on
    (block_cols..., chunk_index, source_length, substring) — content
    keys whose cardinality scales with the corpus, never a fixed block
    space.

    Scale story: build side emits k+1 keys per string, probe side
    (2k+1) candidate source-lengths x (k+1) chunks x (2k+1) shifts
    (= 196 at k=3) — a BOUNDED constant fan-out, after which candidate
    volume is driven by actual near-identical content, not block²
    (first-token blocking over a fixed name vocabulary is O(n²/vocab):
    the constant-block quadratic the round-8 audit hunts). Recall is
    EXACT within a block, so callers' verify step (levenshtein <= k)
    reproduces the plain blocked join's pair set row for row.

    Returns distinct candidate pairs (name_a, name_b) with
    name_a < name_b; the caller applies the levenshtein verify."""
    k = PASSJOIN_K
    m = k + 1
    # The input feeds BOTH the build and probe branches below, and
    # callers typically hand us a shuffle distinct — Catalyst does not
    # dedupe common subtrees, so without a barrier that distinct would
    # re-evaluate once per branch (the multi-consumer rule).
    base = checkpoint(
        names.select(
            F.col(string_col).alias("__s"),
            *(block_cols or []),
        )
        .withColumn("__len", F.length("__s"))
    )

    def base_len(length):  # length DIV m (Columns have no //)
        return F.floor(length / m).cast("long")

    def chunk_start(ci, length):  # 0-based
        return ci * base_len(length) + F.least(ci, length % m)

    def chunk_len(ci, length):
        return base_len(length) + F.when(ci < length % m, 1).otherwise(0)

    ci = F.col("__ci")
    build = base.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("__ci")
    ).select(
        *(block_cols or []),
        F.col("__s").alias("name_a"),
        ci.alias("ci"),
        F.col("__len").alias("la"),
        F.substring(
            F.col("__s"),
            (chunk_start(ci, F.col("__len")) + 1).cast("int"),
            chunk_len(ci, F.col("__len")).cast("int"),
        ).alias("sub"),
    )
    la = F.col("__la")
    probe = (
        base.select(
            "*",
            F.explode(F.sequence(F.col("__len") - k, F.col("__len") + k)).alias("__la"),
        )
        .filter(la >= 0)
        .select(
            "*", F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("__ci")
        )
        .select(
            "*", F.explode(F.array(*[F.lit(s) for s in range(-k, k + 1)])).alias("__shift")
        )
        .withColumn("__pos", chunk_start(ci, la) + F.col("__shift"))
        .filter(
            (F.col("__pos") >= 0)
            & (F.col("__pos") + chunk_len(ci, la) <= F.col("__len"))
        )
        .select(
            *(block_cols or []),
            F.col("__s").alias("name_b"),
            ci.alias("ci"),
            la.alias("la"),
            F.substring(
                F.col("__s"),
                (F.col("__pos") + 1).cast("int"),
                chunk_len(ci, la).cast("int"),
            ).alias("sub"),
        )
    )
    on = (block_cols or []) + ["ci", "la", "sub"]
    return (
        build.join(probe, on)
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Directed shingle-CONTAINMENT near-duplicate pairs:
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
    asymmetric companion to Jaccard that catches subset duplicates
    (a doc wholly embedded in a longer one scores C≈1 even when
    Jaccard is low because the container is much larger; the standard
    secondary signal in suffix-array/CCNet-style dedup).

    Candidates come from the SAME df-capped shared-shingle equi-join as
    ``jaccard_pairs`` (including its memoized shingle tables — on
    the same corpus the two operators share one tokenize pass), so the
    fan-out bound is identical: ≤ max_df² per shingle, linear in corpus
    size. Output is directed: (contained_id, container_id, containment)
    for every ordered pair with containment ≥ threshold; each undirected
    candidate contributes at most two rows."""
    sh = memo("doc_shingles", lambda: shingle_sets(df, id_col, text_col))
    if max_df is not None:
        sh = _capped_shingles(sh, max_df)
    joined = _with_set_sizes(sh, _shared_shingle_pairs(sh, id_col), id_col)
    # Emit both directions from ONE pass: a union of two projections of
    # `joined` would make Catalyst evaluate the candidate join + both
    # size joins once per branch (the multi-consumer-subtree hazard
    # jaccard_pairs documents). An in-row array-of-structs explode is a
    # 2x narrow fan-out with no second walk and nothing to persist.
    directed = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("contained_id"),
                F.col("id_b").alias("container_id"),
                (
                    F.col("n_inter").cast("double")
                    / F.col("size_a").cast("double")
                ).alias("containment"),
            ),
            F.struct(
                F.col("id_b").alias("contained_id"),
                F.col("id_a").alias("container_id"),
                (
                    F.col("n_inter").cast("double")
                    / F.col("size_b").cast("double")
                ).alias("containment"),
            ),
        )
    ).alias("d")
    return (
        joined.select(directed)
        .select("d.*")
        .filter(F.col("containment") >= threshold)
    )


def contamination_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: per corpus document, the fraction
    of its distinct word n-gram shingles that also occur anywhere in the
    eval/benchmark set, flagged ``contaminated`` from
    ``CONTAMINATION_FLAG`` up — the decontamination gate every training
    corpus runs before a model sees it (high overlap = the doc leaks
    eval data and must be dropped).

    The eval vocabulary is a DISTINCT shingle set — typically tiny next
    to the corpus (benchmarks are MBs, corpora are TBs), so the semi-
    join broadcasts under AQE; the corpus side streams through it with
    no shuffle beyond the per-doc count aggregation. Documents with
    fewer than ``SHINGLE_N`` tokens have no shingles and are not scored."""
    # the corpus shingle set feeds BOTH the size aggregation and the
    # semi-join branch — persist it or Catalyst re-tokenizes the corpus
    # once per branch (same hazard jaccard_pairs documents)
    corp_sh = memo("contamination_shingles", lambda: shingle_sets(corpus, id_col, text_col))
    eval_vocab = shingle_sets(eval_set, id_col, text_col).select("shingle").distinct()
    sizes = corp_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corp_sh.join(eval_vocab, on="shingle", how="left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    joined = sizes.join(hits, on=id_col, how="left")
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
    frac = n_overlap.cast("double") / F.col("n_shingles").cast("double")
    return joined.select(
        F.col(id_col),
        F.col("n_shingles"),
        n_overlap.alias("n_overlap"),
        frac.alias("overlap_frac"),
        (frac >= F.lit(CONTAMINATION_FLAG)).alias("contaminated"),
    )


def block_dedup_stats(
    df: DataFrame,
    block_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document (block-level) duplication stats: the corpus-scale
    answer to "how much of this document is boilerplate that appears in
    OTHER documents" — the granularity exact/minhash/simhash dedup miss
    because they score whole documents. The CCNet/RefinedWeb pipelines
    run exactly this pass (paragraph- or line-level) before whole-doc
    dedup; this corpus has no paragraph marks, so the unit is a fixed
    window of ``block_tokens`` consecutive tokens (non-overlapping,
    trailing partial window dropped).

    Per document with ≥1 full block: (doc_id, n_blocks, n_dup_blocks,
    dup_frac) where a block instance is duplicated iff its exact content
    occurs in ≥2 DISTINCT documents (within-doc repeats alone don't
    count — that's repetition_ratios' job).

    Scale shape: one explode (corpus_tokens / block_tokens rows), one
    groupBy on the block hash for document frequency, one shuffle join
    back on the same key (co-partitioned with the groupBy output), one
    per-doc aggregation — all linear, no self-join, no hot-key hazard
    (a block duplicated in k docs contributes k rows, not k²)."""
    b = block_tokens
    toks = tokens(F.col(text_col)).alias("__t")
    base = _spread(df).select(F.col(id_col), toks)
    # md5 of the joined block text: the engine-portable content key
    blocks_expr = F.expr(
        f"transform(sequence(0, size(__t) DIV {b} - 1), "
        f"i -> md5(array_join(slice(__t, i * {b} + 1, {b}), ' ')))"
    )
    inst = memo(
        "block_instances",
        lambda: base.select(
            F.col(id_col),
            F.explode(
                F.when(F.size(F.col("__t")) >= b, blocks_expr).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("block_hash"),
        ),
    )
    block_df = inst.groupBy("block_hash").agg(
        F.count_distinct(id_col).alias("__ndocs")
    )
    scored = inst.join(block_df, "block_hash")
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((F.col("__ndocs") >= 2).cast("long")).alias("n_dup_blocks"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_blocks"),
        F.col("n_dup_blocks"),
        (F.col("n_dup_blocks").cast("double") / F.col("n_blocks").cast("double")).alias(
            "dup_frac"
        ),
    )
