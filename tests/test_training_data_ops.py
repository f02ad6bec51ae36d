"""Semantic unit tests for the training-data operators (dedup /
similarity / text / multimodal) on constructed inputs where the right
answer is known by hand — complements the oracle-parity tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the  quick brown fox  jumps over the lazy dog"),  # whitespace variant of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (4, "completely different content about spark engines"),
        (5, ""),  # empty doc
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    groups = {r.representative_id: r.n_copies for r in dedup.exact_dedup_groups(docs).collect()}
    assert groups[1] == 2  # docs 1 and 2 collapse (canonicalized)
    assert groups[3] == 1 and groups[4] == 1 and groups[5] == 1


def test_jaccard_pairs_semantics(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # identical token sequence → identical shingles
    assert (1, 3) in pairs  # single-word change in a 9-word doc
    assert all(a < b for a, b in pairs)
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_finds_exact_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs, threshold=0.9).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_simhash_identical_for_same_tokens(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert sig[1] == sig[2]  # same token multiset
    assert sig[1] != sig[4]
    assert 5 not in sig  # empty doc has no tokens → no signature row


def test_simhash_pairs_hamming_zero(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0


@pytest.fixture()
def near_dup_corpus(spark):
    """Doc set dense enough that several signature pairs land within a
    few Hamming bits of each other: 8 variants of one base sentence plus
    unrelated noise docs."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, base.replace("the", w, 1)) for i, w in enumerate(
        ["the", "a", "one", "that", "this", "some", "every", "each"])]
    rows += [(100 + i, f"completely unrelated document number {i} about {t}")
             for i, t in enumerate(["spark", "ducks", "parquet", "shuffles"])]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize(
    "bits,n_blocks,max_hamming",
    [
        (60, 6, 3),   # shipped default: C(6,3) 10-bit triples
        (48, 6, 3),   # second width: the log2(n) dial moved down
        (60, 5, 2),   # different block count + threshold: C(5,3) 12-bit keys
        (60, 10, 3),  # many narrow blocks: C(10,7) 6-bit keys
    ],
)
def test_simhash_pairs_exact_recall_any_width(near_dup_corpus, bits, n_blocks, max_hamming):
    """Pigeonhole recall is exact at EVERY (bits, n_blocks, max_hamming)
    config: the pair set must equal the brute-force all-pairs Hamming
    truth over the same signatures. (Blocking affects candidate volume
    only — the output is blocking-independent.)"""
    sig = {r.doc_id: r.simhash
           for r in dedup.simhash(near_dup_corpus, bits=bits).collect()}
    truth = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for a in sig for b in sig if a < b
        and bin(sig[a] ^ sig[b]).count("1") <= max_hamming
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(
            near_dup_corpus, max_hamming=max_hamming,
            bits=bits, n_blocks=n_blocks,
        ).collect()
    }
    assert got == truth
    assert truth, "corpus produced no qualifying pairs — test is vacuous"


def test_simhash_pairs_rejects_degenerate_blocking(near_dup_corpus):
    with pytest.raises(AssertionError, match="pigeonhole"):
        dedup.simhash_pairs(near_dup_corpus, max_hamming=6, n_blocks=6)
    with pytest.raises(AssertionError, match="split evenly"):
        dedup.simhash_pairs(near_dup_corpus, max_hamming=3, bits=50, n_blocks=6)


def test_passjoin_candidates_exact_recall(spark):
    """PassJoin candidate recall vs the brute-force truth: every pair
    with levenshtein <= k MUST be a candidate (the untouched-chunk
    pigeonhole), on a stress set with substitutions, inserts, deletes,
    length skews, and short strings."""
    names = [
        "almond antique blue royal",
        "almond antique blue rose",       # tail sub/indel, ed 3
        "almond antique blue royalX",     # 1 insert
        "almond antiqe blue royal",       # 1 delete mid
        "Xlmond antique blue royal",      # 1 sub at pos 0
        "almond vintage blue royal",      # ed > 3 from most
        "zebra",
        "zebras",                         # 1 insert
        "zeb",                            # 2 deletes
        "ab",                             # short strings (empty chunks)
        "abc",
        "qq",
    ]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    cand = {
        (r.name_a, r.name_b)
        for r in dedup.passjoin_candidate_pairs(df, "name").collect()
    }

    def lev(a, b):
        import functools

        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1,
                d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return d(len(a), len(b))

    truth = set()
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            if lev(a, b) <= 3:
                truth.add(tuple(sorted((a, b))))
    assert truth, "stress set must contain true pairs"
    missing = truth - cand
    assert not missing, f"PassJoin missed true pairs: {missing}"
    # and the verify step reproduces the truth exactly
    verified = {(a, b) for (a, b) in cand if lev(a, b) <= 3}
    assert verified == truth


def test_cosine_topk_self_excluded_and_ranked(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),  # closest to 0
        (2, [0.0, 1.0, 0.0], 0),
        (3, [-1.0, 0.0, 0.0], 0),  # opposite of 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    topk = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    order = [r.neighbor_id for r in sorted(topk, key=lambda r: r.rank)]
    assert order == [1, 2, 3]
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in topk)


def test_lsh_topk_subset_of_bruteforce_schema(spark):
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)], i % 2) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    res = similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, num_planes=4)
    out = res.collect()
    assert res.columns == ["query_id", "neighbor_id", "rank", "cosine"]
    assert all(r.rank <= 3 for r in out)


def test_multimodal_plumbing(docs):
    media = multimodal.documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == ["media_id", "payload", "meta"]
    feats = multimodal.extract_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 5
    assert rows[5].n_bytes == 0 and len(rows[5].feature) == 8
    assert rows[1].n_bytes == len("the quick brown fox jumps over the lazy dog")
    # deterministic: same payload → same checksum/features
    again = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert again[1].byte_checksum == rows[1].byte_checksum


def test_multimodal_strict_mode_raises(docs):
    media = multimodal.documents_as_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        multimodal.extract_features(media, strict=True).collect()


def test_quality_and_langid_edges(spark):
    rows = [(1, "the of and is a plain english sentence"), (2, "xyzzy plugh"), (3, "")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    q = {r.doc_id: r for r in text.quality_features(docs).collect()}
    assert q[3].n_tokens == 0 and q[3].quality_score is not None
    langs = {r.doc_id: r.pred_lang for r in text.language_id(docs).collect()}
    assert langs[1] == "en" and langs[2] == "unknown" and langs[3] == "unknown"


def test_jaccard_df_cap_drops_hot_shingles(spark):
    # 6 docs all sharing one boilerplate sentence; pairwise only the
    # boilerplate overlaps. With max_df below the corpus size the hot
    # shingles drop out of the representation, so no candidate pair is
    # generated at all — the hot-key bound in action.
    boiler = "this legal notice applies to every document in the corpus"
    rows = [(i, f"unique{i} body{i} content{i} {boiler}") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.jaccard_pairs(docs, threshold=0.01, max_df=5).collect()
    assert capped == []
    # uncapped, every pair shares the boilerplate shingles
    uncapped = dedup.jaccard_pairs(docs, threshold=0.01).collect()
    assert len(uncapped) == 15


def test_jaccard_df_cap_keeps_real_dups(docs):
    # cap far above the corpus df: results identical to uncapped
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.5, max_df=1000).collect()
    }
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert capped == uncapped and (1, 2) in capped


def test_lsh_bucket_matches_python_projection_on_long_and_short_vectors(spark):
    # vectors LONGER than the plane (dims=4 here) and SHORTER than it, in
    # one ragged batch: the UDF's bucket equals a pure-Python sign
    # projection over the same weights, with the plane truncated to the
    # vector (a missing dimension contributes 0)
    rows = [
        (0, [1.0, -2.0, 3.0, -4.0]),
        (1, [1.0, -2.0, 3.0, -4.0, 99.0, -99.0]),  # longer than dims
        (2, [1.0, -2.0]),  # shorter than dims
    ]
    weights = similarity._hyperplane_weights(6, 4)

    def bucket(vec):
        q = [round(x * similarity.QUANT_SCALE) for x in vec]
        return sum(2**p for p, w in enumerate(weights) if sum(x * y for x, y in zip(q, w)) > 0)

    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r.vec_id: r.b
        for r in similarity.with_quantized(emb).select(
            "vec_id", similarity.lsh_bucket(num_planes=6, dims=4)(F.col("qvec")).alias("b")
        ).collect()
    }
    assert got == {i: bucket(v) for i, v in rows}
    assert got[0] == got[1]  # extra dims beyond the plane contribute 0
    assert len(set(got.values())) > 1  # the projection is not constant here


def test_chunk_documents_overlap_and_edges(spark):
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens, 2 chunks at step 6
        (2, "solo"),  # 1 token → 1 chunk
        (3, ""),  # empty → 1 empty chunk row (start 0)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1]
    assert c1[0].chunk_text.split() == [f"t{i}" for i in range(8)]
    # overlap: second chunk starts at token 6 (step = 8 - 2)
    assert c1[1].chunk_text.split() == [f"t{i}" for i in range(6, 10)]
    assert c1[1].n_chunk_tokens == 4
    assert by_doc[2][0].chunk_text == "solo" and by_doc[2][0].n_chunk_tokens == 1
    assert by_doc[3][0].chunk_text == "" and by_doc[3][0].n_chunk_tokens == 0
    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_repetition_ratios_flags_boilerplate(spark):
    rows = [
        (1, "buy now " * 50),  # one bigram dominates
        (2, "every word here is completely unique today"),
        (3, "x"),  # single token → zero bigrams
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], ["doc_id", "text"])
    out = {r.doc_id: r for r in text.repetition_ratios(df).collect()}
    assert out[1].top_bigram_frac > 0.4  # "now buy"/"buy now" repetition
    assert out[1].distinct_frac == pytest.approx(2 / 100)
    assert out[2].top_bigram_frac == pytest.approx(1 / 6)
    assert out[2].distinct_frac == 1.0
    assert out[3].n_bigrams == 0 and out[3].top_bigram_frac == 0.0


def test_cluster_representatives_quality_and_ties(spark):
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], ["doc_id", "cluster_id"]
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 5)], ["doc_id", "n_chars"]
    )
    out = {r.cluster_id: r for r in dedup.cluster_representatives(comp, docs).collect()}
    assert out[1].rep_doc_id == 2  # highest quality, tie broken by smaller id
    assert out[1].n_members == 3
    assert out[7].rep_doc_id == 7 and out[7].n_members == 2


def test_sample_frames_fanout_and_determinism(docs):
    media = multimodal.documents_as_media(docs)
    out = multimodal.sample_frames(media, frame_size=10, every_k=2).collect()
    text1 = docs.filter(F.col("doc_id") == 1).first().text.encode()
    rows1 = sorted([r for r in out if r.media_id == 1], key=lambda r: r.frame_idx)
    n_frames = (len(text1) + 9) // 10
    assert [r.frame_idx for r in rows1] == list(range(0, n_frames, 2))
    assert rows1[0].frame_checksum == sum(text1[:10]) % (1 << 31)
    # empty doc → zero frames, not a null row
    assert not [r for r in out if r.media_id == 5]
    with pytest.raises(Exception):
        multimodal.sample_frames(media, strict=True).collect()


def test_resize_media_composes(docs):
    media = multimodal.documents_as_media(docs)
    small = multimodal.resize_media(media, target_bytes=8)
    rows = {r.media_id: r for r in small.collect()}
    assert all(len(r.payload or b"") <= 8 for r in rows.values())
    assert rows[1].meta.n_bytes == len(rows[1].payload)
    # output schema == input schema → stages chain
    again = multimodal.resize_media(small, target_bytes=4).collect()
    assert all(len(r.payload or b"") <= 4 for r in again)


def test_redact_pii_counts_reconcile_with_placeholders(spark):
    df = spark.createDataFrame(
        [(1, "reach me at a1234567890@example.com"),  # digit run inside email
         (2, "call +1 (206) 555-0100 or mail x@y.org")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in text.redact_pii(df).collect()}
    # the email's embedded digits must not count as a phone
    assert out[1].n_emails == 1 and out[1].n_phones == 0
    assert out[1].redacted.count("[PHONE]") == out[1].n_phones
    assert out[2].n_emails == 1 and out[2].n_phones == 1
    assert out[2].redacted.count("[PHONE]") == out[2].n_phones


def test_block_dedup_stats_cross_doc_only(spark):
    # 4-token blocks; doc 1 and 2 share their first block; doc 3 repeats
    # its own block twice (within-doc repeat — must NOT count as dup);
    # doc 4 is too short for any block.
    rows = [
        (1, "a b c d x y z w"),  # blocks: [a b c d], [x y z w]
        (2, "a b c d q r s t"),  # blocks: [a b c d], [q r s t]
        (3, "m n o p m n o p"),  # blocks: [m n o p], [m n o p] (same doc)
        (4, "u v"),  # no full block
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.block_dedup_stats(df, block_tokens=4).collect()}
    assert set(out) == {1, 2, 3}  # doc 4 has no blocks → no row
    assert out[1].n_blocks == 2 and out[1].n_dup_blocks == 1 and out[1].dup_frac == 0.5
    assert out[2].n_blocks == 2 and out[2].n_dup_blocks == 1
    # within-doc repeat: block df counts DISTINCT docs, so not duplicated
    assert out[3].n_blocks == 2 and out[3].n_dup_blocks == 0 and out[3].dup_frac == 0.0


def test_bigram_lm_scores_fixed_point(spark):
    # corpus: "a b" x2 slots from doc1+doc2, "a c" x1 from doc2.
    # c1(a) = 3, c2(a b) = 2, c2(a c) = 1.
    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text.bigram_lm_scores(df).collect()}
    assert set(out) == {1, 2, 3}  # doc 4 has one token → no bigrams
    # q(a b) = 2*1e6 DIV 3 = 666666; q(a c) = 1*1e6 DIV 3 = 333333
    assert out[1].score_total_q == 666_666 and out[1].n_bigrams == 1
    assert out[3].score_total_q == 333_333
    assert out[1].mean_score_q == 666_666.0


def test_temperature_weights_quota_allocation(spark):
    from etl_seattle_call_data_spark.operators import sampling

    # sources with 100 and 400 rows: sqrt weights 10000 vs 20000 (scale
    # 1000) → quotas 1/3 and 2/3 of budget, floor-divided.
    df = spark.range(500).select(
        F.when(F.col("id") < 100, "small").otherwise("big").alias("source")
    )
    out = {r.source: r for r in sampling.temperature_weights(df, "source", budget=9000).collect()}
    assert out["small"].w_q == 10_000 and out["big"].w_q == 20_000
    assert out["small"].sample_quota == 3000 and out["big"].sample_quota == 6000
    # upweighting: small is 20% of rows but 33% of the mix
    assert abs(out["small"].mix_frac - 1 / 3) < 1e-12


def test_cms_never_underestimates_and_is_tight_when_sparse(spark):
    from etl_seattle_call_data_spark.operators import sketch

    counts = spark.createDataFrame(
        [("alpha", 100), ("beta", 40), ("gamma", 7)], ["term", "c"]
    )
    cms = sketch.cms_build(counts, "term", "c")
    est = {
        r.term: r.cms_estimate
        for r in sketch.cms_estimate(cms, counts.select("term"), "term").collect()
    }
    exact = {"alpha": 100, "beta": 40, "gamma": 7}
    # CMS guarantee: estimate >= exact always; with 3 keys in 4x1024
    # buckets collisions are effectively impossible, so estimates are tight
    assert est == exact


def test_inverted_index_bounded_preview_and_checksum(spark):
    rows = [(i, "common unique%d" % i) for i in range(1, 9)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.term: r for r in text.inverted_index(df).collect()}
    common = out["common"]
    assert common.df == 8 and common.total_tf == 8
    # preview is the 5 SMALLEST doc ids, numerically ordered, never all 8
    assert common.posting_preview == "1,2,3,4,5"
    assert out["unique3"].df == 1 and out["unique3"].posting_preview == "3"
    # checksum is order-independent: same value from a reshuffled frame
    out2 = {r.term: r for r in text.inverted_index(df.orderBy(F.desc("doc_id"))).collect()}
    assert out2["common"].posting_checksum == common.posting_checksum


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe's candidate set is a strict superset of single-probe's
    (same home bucket + Hamming-1 probes), and top-k-by-exact-cosine
    recall is monotone in the candidate set: any candidate that displaces
    a true top-k member must itself score higher, hence be a true top-k
    member. So recall(multiprobe) >= recall(singleprobe) must hold
    exactly, not just on average."""
    from etl_seattle_call_data_spark.sources.registry import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(similarity.cosine_topk(emb, queries, k=5))
    single = pairs(similarity.lsh_topk(emb, queries, k=5, num_planes=8))
    multi = pairs(similarity.lsh_topk_multiprobe(emb, queries))

    assert len(multi & exact) >= len(single & exact)
    # multi-probe must return at least as many results per query too
    assert len(multi) >= len(single)


def test_probe_list_is_home_plus_hamming1(spark):
    df = spark.createDataFrame([(0b1010,)], ["bucket"])
    probes = df.select(
        similarity.lsh_probe_buckets("bucket", num_planes=4).alias("p")
    ).collect()[0].p
    assert probes[0] == 0b1010
    assert set(probes[1:]) == {0b1011, 0b1000, 0b1110, 0b0010}


def test_apply_changes_merge_semantics(spark):
    """Direct unit coverage of cdc.apply_changes: untouched passthrough,
    latest-change-wins within a key (delete then later update =>
    update wins; update then later delete => key gone), insert of a new
    key, and result schema == base schema."""
    from etl_seattle_call_data_spark.operators import cdc

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10), (4, "d", 10)],
        ["k", "state", "ver"],
    )
    changes = spark.createDataFrame(
        [
            # key 2: update at ver 11, DELETE at ver 12 -> gone
            (2, "U", "b2", 11), (2, "D", None, 12),
            # key 3: delete at ver 11, update at ver 12 -> survives as c2
            (3, "D", None, 11), (3, "U", "c2", 12),
            # key 5: pure insert
            (5, "U", "e", 11),
        ],
        ["k", "op", "state", "ver"],
    )
    out = cdc.apply_changes(base, changes, key="k", seq_cols=["ver"])
    assert out.columns == base.columns
    rows = {r.k: (r.state, r.ver) for r in out.collect()}
    assert rows == {1: ("a", 10), 3: ("c2", 12), 4: ("d", 10), 5: ("e", 11)}


def test_semantic_dedup_keeps_lowest_id_and_respects_cells(spark):
    """semantic_dedup drops exactly the docs with a lower-id near-dup in
    the SAME sign cell: identical vectors collapse to the lowest id;
    an identical vector in a different cell (sign-flipped dims) is NOT
    a candidate and survives."""
    from etl_seattle_call_data_spark.operators import similarity

    v = [1.0] * 8
    w = [-1.0] * 4 + [1.0] * 4  # different sign cell
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, v), (10, w), (11, w)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in similarity.semantic_dedup(
        df, threshold=0.9, salt=2).collect()}
    assert out[1].kept and not out[2].kept and not out[3].kept
    assert out[10].kept and not out[11].kept
    assert out[1].cell != out[10].cell


def test_scalar_quantize_error_bound(spark):
    """Reconstruction error of the int8 scalar quantizer is bounded by
    one quantization step (mx-mn)/255 per dimension."""
    from etl_seattle_call_data_spark.operators import similarity
    from etl_seattle_call_data_spark.sources.registry import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    import pyspark.sql.functions as F

    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg((F.max(F.col("x").cast("double")) - F.min(F.col("x").cast("double"))).alias("span"))
        .agg(F.max("span"))
        .first()[0]
    )
    step = stats / 255.0
    worst = similarity.scalar_quantize_stats(emb).agg(
        F.max("max_abs_err")
    ).first()[0]
    assert worst <= step * (1 + 1e-9)


def test_build_training_corpus_end_to_end(spark):
    """The full corpus-builder composition on sf0.001 documents: stage
    report is monotone non-increasing, exact dups are gone, splits are
    deterministic and complete, and the eval decontamination stage
    removes a doc planted verbatim in the eval set."""
    import pyspark.sql.functions as F

    from etl_seattle_call_data_spark.operators.corpus_pipeline import (
        CorpusConfig,
        build_training_corpus,
    )
    from etl_seattle_call_data_spark.operators.text import canonical_text
    from etl_seattle_call_data_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    # plant an eval set containing one corpus doc verbatim
    eval_set = docs.filter(F.col("doc_id") == docs.agg(F.min("doc_id")).first()[0])

    corpus, report = build_training_corpus(
        docs, eval_set=eval_set, config=CorpusConfig(min_tokens=5)
    )
    stages = [r["stage"] for r in report]
    assert stages[:3] == ["quality_gate", "exact_dedup", "near_dedup"]
    assert "decontaminate" in stages
    for r in report:
        assert r["rows_out"] <= r["rows_in"]

    out = corpus.persist()
    try:
        # exact dups gone: canonical fingerprints unique
        n = out.count()
        assert out.select(canonical_text("text").alias("c")).distinct().count() == n
        # planted eval doc was removed
        planted = eval_set.first().doc_id
        assert out.filter(F.col("doc_id") == planted).count() == 0
        # split column total & determinism
        assert out.filter(F.col("split").isin("train", "val", "test")).count() == n
        again, _ = build_training_corpus(
            docs, eval_set=eval_set, config=CorpusConfig(min_tokens=5)
        )
        assert {r.doc_id: r.split for r in out.collect()} == {
            r.doc_id: r.split for r in again.collect()
        }
    finally:
        out.unpersist()


def test_scalar_quantize_constant_dimension_is_code_zero(spark):
    """A corpus-constant dimension must quantize to code 0 (not 0/0 NaN):
    the guard keeps Spark and the DuckDB oracle identical on degenerate
    dims and the reconstruction error exactly zero there."""
    from etl_seattle_call_data_spark.operators import similarity

    rows = [(i, [float(i), 7.5]) for i in range(4)]  # dim1 constant
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in similarity.scalar_quantize_stats(df).collect()}
    # dim0 spans [0,3] -> codes 0,85,170,255; dim1 contributes code 0
    assert got[0].code_sum == 0 and got[3].code_sum == 255
    assert got[0].max_abs_err == 0.0  # both dims reconstruct exactly for vec 0


def test_cosine_pairs_blockless_requires_optin(spark):
    """block_col=None is a corpus cross-join: raise unless the caller
    opts in explicitly, so a cartesian product is never silent."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0)],
        ["vec_id", "embedding", "label"],
    )
    with pytest.raises(ValueError, match="allow_cross_join"):
        similarity.cosine_pairs(emb, threshold=0.5, block_col=None)
    # the explicit opt-in still works on tiny eval sets
    pairs = similarity.cosine_pairs(
        emb, threshold=0.5, block_col=None, allow_cross_join=True, salt=1
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}
