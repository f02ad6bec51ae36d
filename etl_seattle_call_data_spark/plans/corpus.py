"""Training-corpus queries over the ``documents`` table.

Tokenization and text statistics, quality signals and filters,
language ID, exact and near-duplicate detection (md5, n-gram Jaccard,
MinHash-LSH, SimHash, containment, edit distance, winnowing),
contamination checks, BPE training steps, mixture weights, packing and
train/val/test splits.

Oracle-parity strategy (see operators/text.py, operators/dedup.py):
rule-24 tokenization spelled identically on both engines, md5-hex
hashing as the portable hash, and exact integer/decimal arithmetic with
fixed-point ``DIV`` instead of libm, so every value the Spark plan
produces is bit-identical to the DuckDB oracle's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators import dedup, dq, multimodal, sampling, sketch, text
from etl_seattle_call_data_spark.operators.ranking import equidepth_bucket, two_phase_scan
from etl_seattle_call_data_spark.operators.sampling import hash_bucket
from etl_seattle_call_data_spark.operators.util import checkpoint, memo, spread
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.shared import _DUCK_TOKENS
from etl_seattle_call_data_spark.sources.registry import load_table


def _duck_shingles(rel: str = "documents") -> str:
    return f"""
    SELECT DISTINCT doc_id, unnest(
      CASE WHEN len(tk) >= 3
        THEN list_transform(range(0, len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' '))
        ELSE [] END) AS shingle
    FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM {rel})
"""


_DUCK_SHINGLES = _duck_shingles()


def _duck_jaccard(max_df: int | None = None, rel: str = "documents") -> str:
    """Jaccard CTE chain; ``max_df`` mirrors operators/dedup.py::
    cap_document_frequency (shingles with document frequency > max_df are
    dropped from sizes AND intersections)."""
    if max_df is None:
        sh_cte = f"sh AS ({_duck_shingles(rel)})"
    else:
        sh_cte = f"""sh_all AS ({_duck_shingles(rel)}),
  kept AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= {max_df}),
  sh AS (SELECT a.doc_id, a.shingle FROM sh_all a JOIN kept USING (shingle))"""
    return f"""
  {sh_cte},
  sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  verified AS (
    SELECT id_a, id_b, CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
  )
"""


_DUCK_JACCARD = _duck_jaccard()


@register(
    "doc_token_stats",
    "Token counting: whitespace tokens + BPE-ish regex chunks + chars per "
    "document (text-analysis north-star; SURVEY §7.2.8).",
    f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({_DUCK_TOKENS}) AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS n_bpe_ish
    FROM documents
    """,
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        text.token_count("text").alias("n_tokens"),
        text.bpe_ish_token_count("text").alias("n_bpe_ish"),
    )


@register(
    "doc_quality_scores",
    "Document quality scoring: length/punctuation/stopword-ratio features "
    "+ composite score (deterministic double arithmetic).",
    f"""
    SELECT doc_id, n_chars, n_tokens, n_punct,
           CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
           CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) AS stopword_ratio,
           0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
             + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / greatest(n_chars, 1))
             + 0.3 * least(1.0, 4.0 * (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)))
             AS quality_score
    FROM (
      SELECT doc_id, length(text) AS n_chars,
             len({_DUCK_TOKENS}) AS n_tokens,
             len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
             len(list_filter({_DUCK_TOKENS}, x -> x IN ('the','a','of','and','is'))) AS n_stop
      FROM documents
    )
    """,
)
def q_doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_features(docs)


@register(
    "doc_language_id",
    "Heuristic language-ID (stopword hits + CJK charset, deterministic "
    "tie-break), aggregated to predicted-language counts.",
    f"""
    WITH hits AS (
      SELECT doc_id,
             len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS c_en,
             len(list_filter(tk, x -> x IN ('le','la','et','les','une'))) AS c_fr,
             len(list_filter(tk, x -> x IN ('el','los','y','que','una'))) AS c_es,
             len(list_filter(tk, x -> x IN ('der','die','und','das','ein'))) AS c_de,
             len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS c_cjk
      FROM (SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents)
    )
    SELECT pred_lang, count(*) AS n_docs FROM (
      SELECT CASE
        WHEN c_cjk > 0 THEN 'zh'
        WHEN c_en = greatest(c_en, c_fr, c_es, c_de) AND c_en > 0 THEN 'en'
        WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) AND c_fr > 0 THEN 'fr'
        WHEN c_es = greatest(c_en, c_fr, c_es, c_de) AND c_es > 0 THEN 'es'
        WHEN c_de = greatest(c_en, c_fr, c_es, c_de) AND c_de > 0 THEN 'de'
        ELSE 'unknown' END AS pred_lang
      FROM hits
    ) GROUP BY pred_lang
    """,
)
def q_doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs).groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "dedup_exact",
    "Exact dedup groups on the canonical-text md5 fingerprint: hash-groupBy "
    "— one shuffle on the fingerprint key, linear at any corpus size.",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS representative_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


_JACCARD_MAX_DF = 100


@register(
    "dedup_ngram_jaccard",
    "Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via shared-shingle "
    "equi-join with a document-frequency cap (df ≤ 100) on the shingle "
    "table — bounds per-shingle join fan-out to max_df², the hot-key "
    "guard that keeps candidate volume linear in corpus size.",
    f"""
    WITH {_duck_jaccard(max_df=_JACCARD_MAX_DF)}
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo_jaccard_pairs(spark, sf_dir)


def _memo_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified capped-Jaccard pair table shared by dedup_ngram_jaccard,
    dedup_clusters and dedup_cluster_representative — token-memoized so
    the shingle-join plan is built once per corpus (the inner shingle
    tables are already memoized; this skips rebuilding the pair plan
    and its sameSemantics canonicalization on every repeat caller)."""
    return memo(
        "jaccard_pairs",
        lambda: dedup.jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=0.5,
            max_df=_JACCARD_MAX_DF,
        ),
        token=("jaccard_pairs", sf_dir, 0.5, _JACCARD_MAX_DF),
    )


def _memo_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components cluster table over the memoized pair graph,
    shared by dedup_clusters and dedup_cluster_representative. The
    label-propagation loop runs eagerly (per-round counts), so sharing
    the finished table saves the entire iteration for the second
    caller."""
    return memo(
        "cc_components",
        lambda: dedup.connected_components(_memo_jaccard_pairs(spark, sf_dir)),
        token=("cc_components", sf_dir, 0.5, _JACCARD_MAX_DF),
    )


def _minhash_oracle() -> str:
    sig_cols = ",\n           ".join(
        f"min(md5('{s}:' || shingle)) AS h{s}" for s in range(dedup.MINHASH_HASHES)
    )
    bands = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {i} AS band_idx, md5(h{i * dedup.MINHASH_ROWS_PER_BAND} || h{i * dedup.MINHASH_ROWS_PER_BAND + 1}) AS band_val FROM sig"
        for i in range(dedup.MINHASH_HASHES // dedup.MINHASH_ROWS_PER_BAND)
    )
    return f"""
    WITH {_DUCK_JACCARD},
    sig AS (
      SELECT doc_id,
           {sig_cols}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
{bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, v.jaccard
    FROM cand c JOIN verified v ON c.id_a = v.id_a AND c.id_b = v.id_b
    WHERE v.jaccard >= 0.5
    """


@register(
    "dedup_minhash_lsh",
    "MinHash(8)+LSH(4 bands) near-dup pairs, verified with exact Jaccard "
    "≥ 0.5 — shingle→minhash→band→bucket-join, the 100TB-scale dedup path.",
    _minhash_oracle(),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.5)


def _band_key_census_oracle() -> str:
    sig_cols = ",\n           ".join(
        f"min(md5('{s}:' || shingle)) AS h{s}" for s in range(dedup.MINHASH_HASHES)
    )
    keys = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, '{i}:' || md5(h{i * dedup.MINHASH_ROWS_PER_BAND} || h{i * dedup.MINHASH_ROWS_PER_BAND + 1}) AS band_key FROM sig"
        for i in range(dedup.MINHASH_HASHES // dedup.MINHASH_ROWS_PER_BAND)
    )
    return f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    sig AS (
      SELECT doc_id,
           {sig_cols}
      FROM sh GROUP BY doc_id
    ),
    keys AS (
{keys}
    ),
    per_key AS (SELECT band_key, count(*) AS c FROM keys GROUP BY band_key)
    SELECT CAST(split_part(band_key, ':', 1) AS INTEGER) AS band_idx,
           CAST(sum(c) AS BIGINT) AS n_doc_keys,
           count(*) AS n_keys,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_colliding_keys,
           CAST(sum(c * (c - 1)) AS BIGINT) // 2 AS n_collision_pairs,
           min(band_key) AS min_band_key,
           max(band_key) AS max_band_key
    FROM per_key GROUP BY 1
    """


@register(
    "minhash_band_key_census",
    "Per-band census of the KEYED MinHash LSH scheme the streaming "
    "near-dup gate stores and anti-joins against (operators/dedup."
    "minhash_band_keys → streaming/dedup_gate.near_dedup_writer): for "
    "each of the 4 bands, total doc-keys, distinct keys, colliding keys "
    "(≥2 docs), exact collision pairs Σ c·(c−1) DIV 2, and the lexical "
    "min/max band_key — the min/max expose the literal '<idx>:<md5>' "
    "key strings, so the census hash-verifies the exact key format the "
    "gate persists (CROSS_ENGINE rules 24, 3, 31/36). Plan: one "
    "shingle→signature pass (shared md5 tokenization), explode to 4 "
    "keys/doc, two key-grouped aggregations — shuffles carry band keys, "
    "never document bodies; 4-row output at any corpus size.",
    _band_key_census_oracle(),
)
def q_minhash_band_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keys = dedup.minhash_band_keys(docs)
    per_key = keys.groupBy("band_key").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_key.withColumn(
            "band_idx", F.split(F.col("band_key"), ":").getItem(0).cast("int")
        )
        .groupBy("band_idx")
        .agg(
            F.sum("c").cast("long").alias("n_doc_keys"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_colliding_keys"),
            F.expr("CAST(sum(c * (c - 1)) AS BIGINT) DIV 2").alias(
                "n_collision_pairs"
            ),
            F.min("band_key").alias("min_band_key"),
            F.max("band_key").alias("max_band_key"),
        )
    )


def _simhash_cte() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(dedup.SIMHASH_BITS)
    )
    value = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(dedup.SIMHASH_BITS)
    )
    return f"""
    tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
    bitsums AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {value} AS simhash FROM bitsums)
    """


@register(
    "doc_simhash",
    "60-bit SimHash signature per document (md5-derived token hashes, "
    "cross-engine exact) — one explode + one grouped agg.",
    f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sig",
)
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo_simhash_sig(spark, sf_dir)


def _memo_simhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature table shared by doc_simhash and dedup_simhash_pairs —
    token-memoized so the 60-aggregate plan is BUILT once per (corpus)
    too, not just computed once (plan construction alone costs ~2s)."""
    return memo(
        "simhash_sig",
        lambda: dedup.simhash(load_table(spark, sf_dir, "documents")),
        token=("simhash", sf_dir),
    )


@register(
    "dedup_simhash_pairs",
    "SimHash near-dup pairs (Hamming ≤ 3) via 3-of-6 sub-block "
    "combination blocking (Manku-style, 30-bit keys — candidate volume "
    "n²·20/2^30, not the 4×15 band join's n²·4/2^15) — pigeonhole-exact "
    "recall, equi-join candidate generation; the oracle keeps the "
    "simpler band join (recall-exact too, so the pair sets coincide).",
    f"""
    WITH {_simhash_cte()},
    bands AS (
      SELECT doc_id, simhash, 0 AS band_idx, (simhash >> 0) & 32767 AS band_val FROM sig
      UNION ALL SELECT doc_id, simhash, 1, (simhash >> 15) & 32767 FROM sig
      UNION ALL SELECT doc_id, simhash, 2, (simhash >> 30) & 32767 FROM sig
      UNION ALL SELECT doc_id, simhash, 3, (simhash >> 45) & 32767 FROM sig
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=3, sig=_memo_simhash_sig(spark, sf_dir))


@register(
    "doc_fingerprint_rolling",
    "Rabin-Karp rolling-hash document fingerprint over the token stream "
    "(order-sensitive, mod-2^31 exact integer arithmetic) — the "
    "shift-tolerant fingerprinting primitive (operators/text.py).",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_DUCK_TOKENS},
                 t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {text.ROLLHASH_MOD})),
             (acc, t) -> (acc * {text.ROLLHASH_BASE} + t) % {text.ROLLHASH_MOD}
           ) AS roll_hash
    FROM documents
    """,
)
def q_doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.rolling_fingerprint(docs)


_FEATURE_HASH_BUCKETS = 8


@register(
    "doc_feature_hash",
    "Hashing-trick vectorizer: per-document token counts folded into 8 "
    "hash buckets (portable md5 bucket), emitted as fixed columns — the "
    "fixed-width featurization that needs no vocabulary pass.",
    f"""
    SELECT doc_id,
           {", ".join(
               "CAST(SUM(CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 8 = " + str(b) +
               " THEN 1 ELSE 0 END) AS BIGINT) AS fb" + str(b)
               for b in range(8)
           )}
    FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents)
    GROUP BY doc_id
    """,
)
def q_doc_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        (sketch.md5_int(F.col("tok")) % _FEATURE_HASH_BUCKETS).alias("bucket"),
    )
    return tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).cast("bigint").alias(f"fb{b}")
            for b in range(_FEATURE_HASH_BUCKETS)
        ]
    )


@register(
    "doc_pii_redaction",
    "PII scrub: email/phone redaction counts + redacted-text digest — "
    "the compliance pass before a corpus feeds training; pure per-row "
    "regexp map, patterns restricted to the Java∩RE2 regex subset so "
    "both engines agree (operators/text.py::redact_pii).",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{text.EMAIL_PATTERN}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(regexp_replace(text, '{text.EMAIL_PATTERN}', '[EMAIL]', 'g'), '{text.PHONE_PATTERN}')) AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{text.EMAIL_PATTERN}', '[EMAIL]', 'g'),
                              '{text.PHONE_PATTERN}', '[PHONE]', 'g')) AS redacted_md5
    FROM documents
    """,
)
def q_doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.redact_pii(docs).select(
        "doc_id", "n_emails", "n_phones", F.md5(F.col("redacted")).alias("redacted_md5")
    )


@register(
    "dedup_incremental",
    "Incremental-crawl dedup: new documents (odd ids) whose canonical "
    "fingerprint is absent from the reference corpus (even ids) — "
    "fingerprint + one left-anti join; the corpus side ships only "
    "fingerprints, never bodies (operators/dedup.py).",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
      FROM documents
    )
    SELECT n.doc_id, n.fingerprint
    FROM fp n
    WHERE n.doc_id % 2 = 1
      AND NOT EXISTS (
        SELECT 1 FROM fp c WHERE c.doc_id % 2 = 0 AND c.fingerprint = n.fingerprint
      )
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.incremental_dedup(new_docs, corpus)


@register(
    "dedup_clusters",
    "Duplicate clusters: connected components over the capped-Jaccard "
    "near-dup pair graph via iterative min-label propagation (rounds = "
    "component diameter; each round one equi-join + one groupBy). The "
    "oracle computes the same components with a recursive transitive "
    "closure — feasible only at test scale, which is exactly why the "
    "Spark side iterates instead (operators/dedup.py).",
    f"""
    WITH RECURSIVE {_duck_jaccard(max_df=_JACCARD_MAX_DF)},
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    )
    SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo_components(spark, sf_dir)


@register(
    "doc_tfidf_top_terms",
    "Per-document top-3 terms by tf·(N/df) — tf-idf with exact integer/"
    "single-divide arithmetic (log-idf would hinge on libm bit parity). "
    "Vocabulary-sized df table broadcast back; per-doc window top-k "
    "(operators/text.py).",
    f"""
    WITH tr AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tr GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, CAST(rank AS INTEGER) AS rank, score FROM (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * n.n AS DOUBLE) / CAST(dfq.df AS DOUBLE) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * n.n AS DOUBLE) / CAST(dfq.df AS DOUBLE) DESC, tf.term
             ) AS rank
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
)
def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3)


@register(
    "multimodal_features",
    "Multimodal plumbing: binary payload + typed metadata columns through "
    "an Arrow-batched mapInPandas feature extractor (decode step stubbed "
    "deterministically — no media libs in this env). The stub is pure "
    "byte arithmetic (stride sums mod 997, one exact division), so the "
    "oracle replicates it in SQL over the ASCII payload bytes (unicode() "
    "per char == byte value) and the WHOLE mapInPandas path — schema, "
    "Arrow batching, flattening to scalar f0..f7 — is hash-checked, not "
    "just row-counted. A real decoder would revert this to rows-only.",
    """
    SELECT doc_id AS media_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
                i -> unicode(text[i:i]))), 0) % 2147483648 AS BIGINT)
             AS byte_checksum,
           CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f0,
           CAST(COALESCE(list_sum(list_transform(range(2, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f1,
           CAST(COALESCE(list_sum(list_transform(range(3, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f2,
           CAST(COALESCE(list_sum(list_transform(range(4, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f3,
           CAST(COALESCE(list_sum(list_transform(range(5, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f4,
           CAST(COALESCE(list_sum(list_transform(range(6, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f5,
           CAST(COALESCE(list_sum(list_transform(range(7, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f6,
           CAST(COALESCE(list_sum(list_transform(range(8, length(text) + 1, 8),
                i -> unicode(text[i:i]))), 0) % 997 AS DOUBLE) / 997.0 AS f7
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "byte_checksum",
        *[F.element_at(F.col("feature"), j + 1).alias(f"f{j}") for j in range(8)],
    )


# ---------------------------------------------------------------------------
# Corpus-preparation wave 3: chunking, repetition quality, per-source
# stats, cluster representative selection — the steps between "near-dup
# pairs found" and "training corpus written".
# ---------------------------------------------------------------------------


@register(
    "doc_chunking",
    "Context-window packing: each document split into 64-token chunks "
    "with 16-token overlap (sequence → posexplode → slice; pure Catalyst, "
    "one explode, no shuffle — operators/text.py::chunk_documents).",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    s AS (SELECT doc_id, tk, unnest(range(0, greatest(len(tk), 1), 48)) AS start FROM t)
    SELECT doc_id,
           CAST(start // 48 AS INTEGER) AS chunk_id,
           array_to_string(tk[start + 1:start + 64], ' ') AS chunk_text,
           CAST(len(tk[start + 1:start + 64]) AS INTEGER) AS n_chunk_tokens
    FROM s
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, chunk_tokens=64, overlap=16)


@register(
    "doc_repetition_ratios",
    "Gopher-style repetition signals: distinct-token fraction and top-"
    "bigram share per document (two partial-agg-friendly shuffles joined "
    "back — operators/text.py::repetition_ratios).",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
    ts AS (SELECT doc_id, COUNT(*) AS n_tokens,
                  COUNT(DISTINCT tok) AS n_distinct_tokens
           FROM tok GROUP BY doc_id),
    bg AS (SELECT doc_id, unnest(
             CASE WHEN len(tk) >= 2
               THEN list_transform(range(0, len(tk) - 1),
                                   i -> tk[i + 1] || ' ' || tk[i + 2])
               ELSE [] END) AS bigram FROM t),
    bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
           FROM bgc GROUP BY doc_id)
    SELECT ts.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
           CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_frac,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
           CASE WHEN COALESCE(n_bigrams, 0) > 0
                THEN CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                ELSE 0.0 END AS top_bigram_frac
    FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
    """,
)
def q_doc_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_ratios(docs)


@register(
    "corpus_source_stats",
    "Per-source corpus accounting (the per-domain rollup of a crawl "
    "pipeline): doc counts, char/token budgets, language spread — one "
    "shuffle on the low-cardinality source key.",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(len({_DUCK_TOKENS})) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_tokens
    FROM documents
    GROUP BY source
    """,
)
def q_corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(text.token_count("text")).alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "total_tokens",
        "n_langs",
        (F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "avg_tokens"
        ),
    )


@register(
    "dedup_cluster_representative",
    "Keep/drop decision per near-dup cluster: highest-quality member "
    "(n_chars, ties → smallest id) wins; emits representative + member "
    "count. One join to attach quality + one small-partition window "
    "top-1 over the clusters from connected components "
    "(operators/dedup.py::cluster_representatives).",
    f"""
    WITH RECURSIVE {_duck_jaccard(max_df=_JACCARD_MAX_DF)},
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             FROM reach GROUP BY node),
    scored AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    ),
    members AS (SELECT cluster_id, COUNT(*) AS n_members FROM comp GROUP BY cluster_id)
    SELECT s.cluster_id, s.doc_id AS rep_doc_id,
           CAST(s.n_chars AS BIGINT) AS rep_n_chars,
           CAST(m.n_members AS BIGINT) AS n_members
    FROM scored s JOIN members m USING (cluster_id) WHERE rn = 1
    """,
)
def q_dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    comp = _memo_components(spark, sf_dir)
    return dedup.cluster_representatives(comp, docs, quality_col="n_chars")


@register(
    "doc_contamination_check",
    "Benchmark decontamination: per corpus doc (sources ≠ src0), the "
    "fraction of its distinct 3-gram shingles found anywhere in the "
    "src0 'benchmark' slice — eval vocabulary broadcast-semi-joined, "
    "docs over 50% overlap flagged (operators/dedup.py::"
    "contamination_overlap).",
    f"""
    WITH corpus AS (SELECT * FROM documents WHERE source <> 'src0'),
    eval_docs AS (SELECT * FROM documents WHERE source = 'src0'),
    corp_sh AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(tk) >= 3
          THEN list_transform(range(0, len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' '))
          ELSE [] END) AS shingle
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM corpus)
    ),
    eval_vocab AS (
      SELECT DISTINCT unnest(
        CASE WHEN len(tk) >= 3
          THEN list_transform(range(0, len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' '))
          ELSE [] END) AS shingle
      FROM (SELECT {_DUCK_TOKENS} AS tk FROM eval_docs)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp_sh GROUP BY doc_id),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_overlap
      FROM corp_sh WHERE shingle IN (SELECT shingle FROM eval_vocab)
      GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / CAST(s.n_shingles AS DOUBLE)
             AS overlap_frac,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / CAST(s.n_shingles AS DOUBLE)
             >= 0.5 AS contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def q_doc_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    eval_docs = docs.filter(F.col("source") == "src0")
    return dedup.contamination_overlap(corpus, eval_docs)


@register(
    "corpus_sequence_packing",
    "LM training packing (concatenate-then-split): per source, documents "
    "are concatenated in doc_id order and the token stream is cut every "
    "2048 tokens; each doc learns its token offset and the "
    "training-sequence ids it lands in. One window cumsum per source "
    "partition — no explode, no UDF; at scale the window key (source) is "
    "the natural ingest shard.",
    """
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens
               AS start_offset
      FROM t
    )
    SELECT source, doc_id, n_tokens, start_offset,
           start_offset // 2048 AS first_seq,
           CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 2048
                ELSE start_offset // 2048 END AS last_seq
    FROM c
    """,
)
def q_corpus_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", text.token_count("text").cast("bigint").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = t.withColumn("start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    first_seq = F.floor(F.col("start_offset") / 2048).cast("bigint")
    last_seq = F.when(
        F.col("n_tokens") > 0,
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / 2048).cast("bigint"),
    ).otherwise(first_seq)
    return c.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_offset",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
    )


@register(
    "corpus_clean_pipeline",
    "Capstone composite — the full corpus-cleaning pass in one plan: "
    "quality gate (≥20 tokens) → exact dedup (keep min doc_id per "
    "canonical-md5) → near-dup removal (capped-Jaccard clusters, keep "
    "the highest-quality member) → surviving corpus with token/char "
    "budgets. Stage outputs chain as DataFrames, so Catalyst sees one "
    "tree: the quality filter pushes into the scan every later stage "
    "reads, and the shingle cache is shared with the standalone dedup "
    "queries.",
    f"""
    WITH RECURSIVE survivors0 AS (
      SELECT doc_id, text, n_chars FROM documents
      WHERE len({_DUCK_TOKENS}) >= 20
    ),
    fp AS (
      SELECT doc_id, text, n_chars,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM survivors0
    ),
    keep_exact AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    survivors1 AS (SELECT fp.doc_id, fp.text, fp.n_chars
                   FROM fp JOIN keep_exact USING (doc_id)),
    {_duck_jaccard(max_df=_JACCARD_MAX_DF, rel="survivors1")},
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    comp AS (SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             FROM reach GROUP BY node),
    reps AS (
      SELECT doc_id FROM (
        SELECT c.cluster_id, c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN survivors1 s USING (doc_id)
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT doc_id FROM comp
      WHERE doc_id NOT IN (SELECT doc_id FROM reps)
    )
    SELECT s.doc_id,
           CAST(len({_DUCK_TOKENS.replace("text", "s.text")}) AS INTEGER) AS n_tokens,
           CAST(s.n_chars AS BIGINT) AS n_chars
    FROM survivors1 s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    survivors0 = docs.filter(text.token_count("text") >= 20)
    keep = dedup.exact_dedup_groups(survivors0).select(
        F.col("representative_id").alias("doc_id")
    )
    # survivors1 feeds five plan branches (shingle derivation, cluster
    # quality join, the two final anti-joins, token/char budgets) — persist
    # the tiny (id, text, n_chars) projection or each branch re-reads the
    # parquet and re-runs the quality gate + exact-dedup semi-join.
    survivors1 = memo(
        "corpus_clean_survivors",
        lambda: survivors0.join(keep, on="doc_id", how="left_semi"),
    )
    # shingling is per-document: the filtered corpus' shingle set is the
    # cached FULL-corpus shingle table (shared with the standalone dedup
    # queries via sameSemantics) semi-joined to surviving ids — no
    # re-tokenization of the surviving 85% of the corpus.
    sh_full = memo("doc_shingles", lambda: dedup.shingle_sets(docs))
    sh_surv = sh_full.join(survivors1.select("doc_id"), "doc_id", "left_semi")
    pairs = dedup.jaccard_pairs(
        survivors1, threshold=0.5, max_df=_JACCARD_MAX_DF, shingles=sh_surv
    )
    comp = dedup.connected_components(pairs)
    # r11: dropped = every cluster member EXCEPT the top-1 by (quality
    # desc, id) — computed directly as row_number > 1 over the member
    # table. The previous shape (cluster_representatives + comp anti-join
    # reps) consumed comp from three plan branches and carried an
    # n_members aggregate+join this query never reads; this consumes
    # comp once and drops two exchanges + two SortMergeJoins from the
    # final stage. Window partitions are near-dup clusters (bounded
    # membership), never corpus-scale.
    w_rep = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    dropped = (
        comp.join(survivors1.select("doc_id", "n_chars"), on="doc_id")
        .withColumn("__rn", F.row_number().over(w_rep))
        .filter(F.col("__rn") > 1)
        .select("doc_id")
    )
    return survivors1.join(dropped, on="doc_id", how="left_anti").select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        F.col("n_chars"),
    )


@register(
    "corpus_train_split",
    "Deterministic 80/10/10 train/val/test assignment on the portable "
    "md5 hash bucket (seedless, partition-invariant, stable under corpus "
    "growth — unlike randomSplit) with per-split budget accounting "
    "(operators/sampling.py::hash_split).",
    f"""
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens
    FROM (
      SELECT text,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT text,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
            FROM documents)
    )
    GROUP BY split
    """,
)
def q_corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text.token_count("text")).alias("total_tokens"),
        )
    )


@register(
    "doc_rarity_scores",
    "Token-rarity quality signal: per document, the corpus-wide document "
    "frequency of its distinct tokens — hapax fraction (df=1 share) and "
    "mean df, exact integer-sum ratios (the deterministic stand-in for "
    "log-prob LM scoring, whose libm bit-parity is not portable). "
    "Vocabulary df table joins back broadcast-small; two shuffles total.",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok)
    SELECT doc_id,
           COUNT(*) AS n_distinct_tokens,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS hapax_frac,
           CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_df
    FROM tok JOIN dfreq USING (tok)
    GROUP BY doc_id
    """,
)
def q_doc_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    ).distinct()
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    hapax = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1))
    return (
        tok.join(dfreq, on="tok")
        .groupBy("doc_id")
        .agg(
            n.alias("n_distinct_tokens"),
            hapax.alias("n_hapax"),
            (hapax.cast("double") / n).alias("hapax_frac"),
            (F.sum("df").cast("double") / n).alias("mean_df"),
        )
    )


_BLOCK = 10


@register(
    "dedup_block_level",
    "Sub-document duplication: fraction of each doc's 10-token blocks "
    "whose exact content appears in >= 2 distinct documents — the "
    "CCNet-style paragraph/boilerplate pass whole-doc dedup misses. One "
    "explode + DF groupBy + co-partitioned join back; linear, fan-out "
    "k not k^2 per duplicated block (operators/dedup.py::"
    "block_dedup_stats).",
    f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    blocks AS (
      SELECT doc_id, unnest(
        CASE WHEN len(tk) >= {_BLOCK}
          THEN list_transform(range(0, len(tk) // {_BLOCK}),
                              i -> md5(array_to_string(tk[i*{_BLOCK}+1:i*{_BLOCK}+{_BLOCK}], ' ')))
          ELSE [] END) AS block_hash
      FROM tk
    ),
    bdf AS (SELECT block_hash, COUNT(DISTINCT doc_id) AS ndocs FROM blocks GROUP BY block_hash)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
           CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_frac
    FROM blocks b JOIN bdf d USING (block_hash)
    GROUP BY b.doc_id
    """,
)
def q_dedup_block_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.block_dedup_stats(docs, block_tokens=_BLOCK)


@register(
    "doc_bigram_lm_score",
    "Corpus-trained bigram-LM fluency score per doc (KenLM-style quality "
    "gate) in exact fixed-point: per-slot q = c2*1e6 DIV c1, exact BIGINT "
    "doc sums, one double division for the mean. One explode + two vocab "
    "groupBys + co-partitioned joins back (operators/text.py::"
    "bigram_lm_scores).",
    f"""
    WITH tk AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    inst AS (
      SELECT doc_id, unnest(
        CASE WHEN len(tk) >= 2
          THEN list_transform(range(0, len(tk) - 1), i -> tk[i+1] || ' ' || tk[i+2])
          ELSE [] END) AS bg
      FROM tk
    ),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM inst GROUP BY bg),
    c1 AS (SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS c1 FROM inst GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM((c2.c2 * 1000000) // c1.c1) AS BIGINT) AS score_total_q,
           CAST(SUM((c2.c2 * 1000000) // c1.c1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_score_q
    FROM inst JOIN c2 USING (bg)
    JOIN c1 ON string_split(inst.bg, ' ')[1] = c1.w1
    GROUP BY doc_id
    """,
)
def q_doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_lm_scores(docs)


@register(
    "corpus_temperature_weights",
    "Temperature (T=2) source-mixing weights: w ∝ √n_docs quantized to "
    "BIGINT (sqrt is IEEE-correctly-rounded — the one power cross-engine "
    "exactness allows), integer quota allocation over a 10k-sample "
    "budget, one double division for the mixing fraction "
    "(operators/sampling.py::temperature_weights).",
    """
    WITH counts AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY source),
    weighted AS (
      SELECT source, n_rows,
             CAST(floor(sqrt(CAST(n_rows AS DOUBLE)) * 1000) AS BIGINT) AS w_q
      FROM counts
    )
    SELECT source,
           CAST(n_rows AS BIGINT) AS n_rows,
           w_q,
           CAST((10000 * w_q) // SUM(w_q) OVER () AS BIGINT) AS sample_quota,
           CAST(w_q AS DOUBLE) / CAST(SUM(w_q) OVER () AS DOUBLE) AS mix_frac
    FROM weighted
    """,
)
def q_corpus_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_weights(docs, "source", budget=10000)


_CMS_HASH = "('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || term), 1, 15))::BIGINT"


@register(
    "heavy_hitters_cms",
    "Count-min sketch (4x1024, engine-portable md5 hashing) over the "
    "corpus token stream, probed at the exact top-10 tokens — "
    "overestimate >= 0 by construction. Sketch built from the exact "
    "per-key count table (vocab-sized), not the instance stream, so the "
    "only corpus-scale shuffle is the token groupBy "
    "(operators/sketch.py).",
    f"""
    WITH inst AS (SELECT unnest({_DUCK_TOKENS}) AS term FROM documents),
    counts AS (SELECT term, COUNT(*) AS exact_count FROM inst GROUP BY term),
    seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
    keyed AS (
      SELECT c.term, s.seed, {_CMS_HASH} % 1024 AS bucket, c.exact_count
      FROM counts c CROSS JOIN seeds s
    ),
    sketch AS (SELECT seed, bucket, SUM(exact_count) AS total FROM keyed GROUP BY 1, 2),
    probes AS (SELECT term, exact_count FROM counts ORDER BY exact_count DESC, term LIMIT 10),
    est AS (
      SELECT k.term, MIN(sk.total) AS cms_estimate
      FROM keyed k JOIN sketch sk USING (seed, bucket)
      WHERE k.term IN (SELECT term FROM probes)
      GROUP BY k.term
    )
    SELECT p.term,
           CAST(p.exact_count AS BIGINT) AS exact_count,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(e.cms_estimate - p.exact_count AS BIGINT) AS overestimate
    FROM probes p JOIN est e USING (term)
    """,
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    inst = docs.select(F.explode(text.tokens(F.col("text"))).alias("term"))
    counts = memo(
        "cms_token_counts",
        lambda: inst.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count")),
    )
    cms = sketch.cms_build(counts, "term", "exact_count")
    probes = counts.orderBy(F.desc("exact_count"), F.asc("term")).limit(10)
    est = sketch.cms_estimate(cms, probes.select("term"), "term")
    return (
        probes.join(est, "term")
        .select(
            "term",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


@register(
    "doc_inverted_index",
    "Inverted-index summary per term: document frequency, total tf, "
    "5-smallest-postings preview (bounded — never a full collect_list "
    "on a hot term) and an order-independent posting checksum that "
    "aggregates without assembling the list (operators/text.py::"
    "inverted_index).",
    f"""
    WITH inst AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
    postings AS (SELECT term, doc_id, COUNT(*) AS tf FROM inst GROUP BY 1, 2),
    stats AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS total_tf,
             CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      % 1000000000) AS BIGINT) AS posting_checksum
      FROM postings GROUP BY term
    ),
    preview AS (
      SELECT term,
             array_to_string((array_agg(doc_id ORDER BY doc_id))[1:5], ',')
               AS posting_preview
      FROM postings GROUP BY term
    )
    SELECT s.term, s.df, s.total_tf, s.posting_checksum, p.posting_preview
    FROM stats s JOIN preview p USING (term)
    """,
)
def q_doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.inverted_index(docs)


# ---------------------------------------------------------------------------
# LSH candidate-quality evaluation (recall/precision vs exact Jaccard)


def _lsh_recall_oracle() -> str:
    sig_cols = ",\n           ".join(
        f"min(md5('{s}:' || shingle)) AS h{s}" for s in range(dedup.MINHASH_HASHES)
    )
    bands = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {i} AS band_idx, md5(h{i * dedup.MINHASH_ROWS_PER_BAND} || h{i * dedup.MINHASH_ROWS_PER_BAND + 1}) AS band_val FROM sig"
        for i in range(dedup.MINHASH_HASHES // dedup.MINHASH_ROWS_PER_BAND)
    )
    return f"""
    WITH {_DUCK_JACCARD},
    sig AS (
      SELECT doc_id,
           {sig_cols}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
{bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    exact AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
    tp AS (SELECT c.id_a, c.id_b
           FROM cand c JOIN exact e ON e.id_a = c.id_a AND e.id_b = c.id_b)
    SELECT
      CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
      CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
      CAST((SELECT COUNT(*) FROM tp) AS BIGINT) AS n_true_positive,
      CAST(((SELECT COUNT(*) FROM tp) * 1000000)
           // NULLIF((SELECT COUNT(*) FROM exact), 0) AS BIGINT) AS recall_fp,
      CAST(((SELECT COUNT(*) FROM tp) * 1000000)
           // NULLIF((SELECT COUNT(*) FROM cand), 0) AS BIGINT) AS precision_fp
    """


@register(
    "dedup_lsh_recall_eval",
    "Sketch-quality evaluation harness: MinHash-LSH CANDIDATE pairs "
    "(pre-verification band buckets) measured against exact Jaccard "
    "ground truth (uncapped shared-shingle pairs, threshold 0.5) — "
    "n_exact / n_candidates / true positives plus fixed-point recall "
    "and precision. This turns the docstring claim 'recall set by the "
    "banding' into a number the gate checks. All counts exact; ratios "
    "are integer DIV with NULLIF zero-guards. The candidate set, "
    "shingle table, and exact pairs all come from the session-shared "
    "caches, so the eval adds two counts and a semi-join to pipelines "
    "already running dedup.",
    _lsh_recall_oracle(),
)
def q_dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = memo("doc_shingles", lambda: dedup.shingle_sets(docs))
    cand = memo("lsh_candidates", lambda: dedup.minhash_band_candidates(sh))
    # Persist the exact ground truth: it feeds BOTH the true-positive
    # match and the n_exact tally, and the uncapped shared-shingle
    # self-join behind it is the single most expensive subtree in the
    # query — un-persisted, Catalyst evaluates it once per consuming
    # branch. Both sides are distinct pair sets, so the three counts
    # collapse into ONE full-outer join + aggregate pass (pair-key
    # shuffle of two already-reduced pair sets) instead of three
    # scalar-subquery jobs each re-walking its input.
    exact = memo(
        "jaccard_exact_t05",
        lambda: dedup.jaccard_pairs(docs, threshold=0.5, shingles=sh).select(
            "id_a", "id_b"
        ),
    )
    e = exact.withColumn("in_exact", F.lit(1))
    c = cand.withColumn("in_cand", F.lit(1))
    tallies = (
        e.join(c, ["id_a", "id_b"], "full_outer")
        .agg(
            F.coalesce(F.sum("in_exact"), F.lit(0))
            .cast("bigint")
            .alias("n_exact"),
            F.coalesce(F.sum("in_cand"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("in_exact").isNotNull()
                        & F.col("in_cand").isNotNull(),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_true_positive"),
        )
    )
    return tallies.select(
        "n_exact",
        "n_candidates",
        "n_true_positive",
        F.expr(
            "CAST((n_true_positive * 1000000) DIV NULLIF(n_exact, 0) AS BIGINT)"
        ).alias("recall_fp"),
        F.expr(
            "CAST((n_true_positive * 1000000) DIV NULLIF(n_candidates, 0) AS BIGINT)"
        ).alias("precision_fp"),
    )


# DuckDB mirror of text.bigrams: 1-indexed lists, range(1, n) is empty
# for n <= 1 so short docs yield [] without a guard.
_DUCK_BIGRAMS = (
    f"list_transform(range(1, len({_DUCK_TOKENS})), "
    f"i -> {_DUCK_TOKENS}[i] || ' ' || {_DUCK_TOKENS}[i + 1])"
)


@register(
    "doc_readability",
    "Flesch-style readability per document from portable regex counts "
    "(words / sentence-punctuation runs / vowel-group syllable proxy). "
    "Pure per-row map — no shuffle, whole-stage codegen "
    "(operators/text.py::readability).",
    f"""
    SELECT doc_id, n_words, n_sentences, n_vowel_groups,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / CAST(greatest(n_sentences, 1) AS DOUBLE))
             - 84.6 * (CAST(n_vowel_groups AS DOUBLE)
                       / CAST(greatest(n_words, 1) AS DOUBLE)) AS flesch
    FROM (
      SELECT doc_id,
             CAST(len({_DUCK_TOKENS}) AS INTEGER) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS INTEGER) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER)
               AS n_vowel_groups
      FROM documents
    )
    """,
)
def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.readability(docs)


@register(
    "ngram_top_bigrams",
    "Corpus-wide top-20 adjacent-token bigrams — the n-gram frequency "
    "table that drives boilerplate detection and LM smoothing. One "
    "explode, map-side partial counts before the single shuffle on the "
    "bigram key, then a 20-row global top-k with lexicographic "
    "tie-break.",
    f"""
    SELECT bigram, n FROM (
      SELECT bigram, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rk
      FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bigram FROM documents)
      GROUP BY bigram
    ) WHERE rk <= 20
    """,
)
def q_ngram_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(text.bigrams("text")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # 20-row result: orderBy+limit is a global top-k (TakeOrdered — no
    # full sort materialization), tie-broken lexicographically.
    return counts.orderBy(F.col("n").desc(), "bigram").limit(20).select("bigram", "n")


_VOCAB_SIZE = 100


@register(
    "vocab_coverage",
    f"Vocabulary coverage per source: corpus top-{_VOCAB_SIZE} tokens by "
    "frequency (deterministic count-then-token tie-break) form the "
    "vocab; each source reports how many of its token instances the "
    "vocab covers. Two shuffles (token counts, per-source rollup); the "
    f"{_VOCAB_SIZE}-row vocab broadcasts into the coverage join.",
    f"""
    WITH tok AS (
      SELECT source, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
        FROM tok GROUP BY tok
      ) WHERE rk <= {_VOCAB_SIZE}
    )
    SELECT source,
           COUNT(*) AS total_tokens,
           CAST(SUM(CASE WHEN vocab.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(SUM(CASE WHEN vocab.tok IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS coverage
    FROM tok LEFT JOIN vocab USING (tok)
    GROUP BY source
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(text.tokens("text")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    covered = F.sum(F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            covered.alias("covered_tokens"),
            (covered.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "coverage"
            ),
        )
    )


_QUOTA_PER_SOURCE = 50


@register(
    "corpus_source_quota",
    f"Per-source document quota: keep the top {_QUOTA_PER_SOURCE} docs "
    "of each source ranked by (n_chars DESC, doc_id) — the domain-cap "
    "step that stops one crawl domain dominating the training mix. One "
    "shuffle on source, streaming window rank, no global sort "
    "(operators/sampling.py::top_n_per_group).",
    f"""
    SELECT doc_id, source, n_chars, rank FROM (
      SELECT doc_id, source, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank
      FROM documents
    ) WHERE rank <= {_QUOTA_PER_SOURCE}
    """,
)
def q_corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.top_n_per_group(
        docs.select("doc_id", "source", "n_chars"),
        "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        _QUOTA_PER_SOURCE,
    ).select("doc_id", "source", "n_chars", F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# Gopher-style document quality filter


_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that")


@register(
    "corpus_gopher_filter",
    "Gopher-rule quality gate over documents (the pre-training corpus "
    "filter family): word count in [5, 100000], mean word length in "
    "[2, 12], ≥80% of words contain an alphabetic character, and ≥2 "
    "stopword hits. All counts are exact integers; each ratio is ONE "
    "IEEE division of identical inputs — bit-stable cross-engine. Pure "
    "Catalyst expressions over the token array (no UDF, no shuffle "
    "until the caller aggregates).",
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT)))
                  AS BIGINT) AS char_sum,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_filter(toks,
                  t -> list_contains({list(_STOPWORDS)}, lower(t)))) AS BIGINT)
               AS n_stopwords
      FROM tok
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS frac_alpha,
           n_stopwords,
           (n_words BETWEEN 5 AND 100000
            AND CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE)
                  BETWEEN 2.0 AND 12.0
            AND CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.8
            AND n_stopwords >= 2) AS keep
    FROM m
    """,
)
def q_corpus_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("char_sum"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("long").alias("n_alpha"),
        F.size(
            F.filter(toks, lambda t: F.lower(t).isin(*_STOPWORDS))
        ).cast("long").alias("n_stopwords"),
    )
    mean_len = F.col("char_sum").cast("double") / F.col("n_words").cast("double")
    frac_alpha = F.col("n_alpha").cast("double") / F.col("n_words").cast("double")
    return m.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha"),
        "n_stopwords",
        (
            F.col("n_words").between(5, 100000)
            & mean_len.between(2.0, 12.0)
            & (frac_alpha >= 0.8)
            & (F.col("n_stopwords") >= 2)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Domain-shift divergence per source (fixed-point chi-squared, log-free)


@register(
    "source_divergence_chi2",
    "Per-source domain-shift score: chi-squared divergence between each "
    "source's unigram distribution and the whole-corpus distribution, "
    "in exact fixed-point (p,q = count·10⁶ DIV total; term = (p−q)² "
    "DIV q — integer floor division, bit-identical on every engine; a "
    "log-based KL would hinge on libm rounding). Summed over the "
    "tokens PRESENT in the source (absent-token mass excluded by "
    "definition). The corpus distribution derives from the per-source "
    "counts by re-aggregation — the token stream is scanned once.",
    """
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS tok
      FROM documents
    ),
    sc AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
    st AS (SELECT source, SUM(c) AS t FROM sc GROUP BY source),
    cc AS (SELECT tok, SUM(c) AS c FROM sc GROUP BY tok),
    ct AS (SELECT SUM(c) AS t FROM cc),
    terms AS (
      SELECT sc.source,
             (sc.c * 1000000) // st.t AS p,
             (cc.c * 1000000) // ct.t AS q
      FROM sc
      JOIN st ON sc.source = st.source
      JOIN cc ON sc.tok = cc.tok
      CROSS JOIN ct
    )
    SELECT source,
           CAST(SUM(CASE WHEN q > 0 THEN ((p - q) * (p - q)) // q
                         ELSE 0 END) AS BIGINT) AS chi2_fp,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM terms
    GROUP BY source
    """,
)
def q_source_divergence_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(text.tokens("text")).alias("tok"))
    sc = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("t"))
    cc = sc.groupBy("tok").agg(F.sum("c").alias("cc_c"))
    ct = cc.agg(F.sum("cc_c").alias("ct_t"))
    terms = (
        sc.join(F.broadcast(st), "source")
        .join(cc, "tok")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            F.expr("(c * 1000000) DIV t").alias("p"),
            F.expr("(cc_c * 1000000) DIV ct_t").alias("q"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum(
            F.when(F.col("q") > 0, F.expr("((p - q) * (p - q)) DIV q")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("chi2_fp"),
        F.count(F.lit(1)).alias("n_terms"),
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
        F.count_distinct(F.md5(text.canonical_text(F.col("text"))))
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
# Quantile normalization across sources (grouped two-phase rank)


@register(
    "quantile_normalize_doclen",
    "Quantile normalization of document lengths across sources — the "
    "batch-effect remover (microarray lineage) that maps every "
    "source's r-th smallest value onto the cross-source mean at rank "
    "r, forcing identical marginal distributions. The within-source "
    "rank comes from operators/ranking.py::two_phase_scan — "
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
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    coarse = F.expr("n_chars DIV 256")
    spec = ("rk", ["n_chars", "doc_id"], coarse, F.lit(1), "sum", False)
    ranked = two_phase_scan(docs, ["source"], [spec])
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
                sketch.md5_int(F.col("shingle")).alias("h"),
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
            sketch.md5_int(
                F.concat(F.col("h").cast("string"), F.lit(":p"), F.col("p").cast("string"))
            ).alias("ph"),
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
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("bigint")
        .alias("nn"),
    )
    spec = ("neg_below", ["score"], F.expr("score DIV 256"), F.col("nn"), "sum", True)
    cum = two_phase_scan(s, [], [spec])
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
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        "doc_id",
        sketch.md5_int(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))).alias("hv"),
    )
    coarse = F.expr("hv DIV 72057594037927936")  # 2^56: 16 hash buckets
    spec = ("rk", ["hv", "doc_id"], coarse, F.lit(1), "sum", False)
    j = two_phase_scan(h, ["source"], [spec]).withColumnRenamed("rk_total", "n")
    is_test = F.col("rk") <= F.expr("n DIV 5")
    return j.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(is_test, 1).otherwise(0)).cast("bigint").alias("n_test"),
        F.sum(F.when(is_test, F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("test_id_checksum"),
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
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    spec = ("rnk", ["score", "doc_id"], F.expr("score DIV 256"), F.lit(1), "sum", False)
    ranked = two_phase_scan(docs, [], [spec])
    return (
        ranked.groupBy(
            equidepth_bucket(F.col("rnk"), F.col("rnk_total"), 10).alias(
                "decile"
            )
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
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", text.tokens("text").alias("t")
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
            sketch.md5_int(F.col("s.gram")).alias("h"),
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
    pairs = dedup.pair_join(capped, "doc_id", "h", carry=("pos",)).select(
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
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", text.tokens("text").alias("t"))
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
# Naive-Bayes-style quality classifier (fixed-point likelihood ratios)
# ---------------------------------------------------------------------------


@register(
    "naive_bayes_quality_score",
    "FastText/NB-style corpus quality classifier, libm-free: per-token "
    "Laplace-smoothed likelihood ratios between English docs (the "
    "'positive' class, the role the CCNet/LLaMA wiki-ref classifier "
    "plays) and the rest, in ppm fixed point ((n_en+1)*1e6 DIV "
    "(n_other+1) — a monotone surrogate for the NB log-odds that needs "
    "no log). A doc's score is its mean per-token ratio; predicted "
    "positive when the mean exceeds 1e6 (ratio > 1). Report rolls up "
    "per (source, lang): the per-class shuffle is one vocab-keyed "
    "groupBy, scoring is one vocab-sized equi-join (AQE broadcasts it "
    "at small SF) + one doc-keyed agg — no per-row Python, fan-out "
    "bounded by tokens. Report rows are |sources|x|langs|, not corpus.",
    """
    WITH tok AS (
      SELECT doc_id, lang, source, lower(t) AS tok
      FROM (SELECT doc_id, lang, source,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS t
            FROM documents)
    ),
    vocab AS (
      SELECT tok,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS n_other
      FROM tok GROUP BY tok
    ),
    scored AS (
      SELECT t.doc_id, t.lang, t.source,
             CAST(SUM((v.n_en + 1) * 1000000 // (v.n_other + 1)) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS doc_ppm
      FROM tok t JOIN vocab v ON v.tok = t.tok
      GROUP BY t.doc_id, t.lang, t.source
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_ppm > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_positive,
           CAST(SUM(doc_ppm) // COUNT(*) AS BIGINT) AS avg_doc_ppm
    FROM scored
    GROUP BY source, lang
    """,
)
def q_naive_bayes_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(text.tokens("text")).alias("t"),
    ).select("doc_id", "lang", "source", F.lower("t").alias("tok"))
    vocab = tok.groupBy("tok").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("bigint")
        .alias("n_other"),
    )
    scored = (
        tok.join(vocab, "tok")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.expr(
                "CAST(SUM((n_en + 1) * 1000000 DIV (n_other + 1)) AS BIGINT)"
                " DIV CAST(COUNT(*) AS BIGINT)"
            ).alias("doc_ppm")
        )
    )
    return scored.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("doc_ppm") > 1000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pred_positive"),
        F.expr("CAST(SUM(doc_ppm) DIV COUNT(*) AS BIGINT)").alias("avg_doc_ppm"),
    )


# ---------------------------------------------------------------------------
# DSIR hashed n-gram importance weights
# ---------------------------------------------------------------------------


@register(
    "dsir_importance_weights",
    "Data Selection with Importance Resampling (Xie et al. 2023) in "
    "fixed point: word-bigram features hashed into 256 buckets "
    "(engine-portable md5 hash), target distribution = English docs, "
    "raw distribution = whole corpus; a bucket's importance ratio is "
    "(target_count+1)*1e6 DIV (raw_count+1) and a doc's weight is its "
    "mean bucket ratio over bigram instances. The 256-row bucket table "
    "broadcasts; bigram extraction is a pure array expression "
    "(element_at over sequence — no self-join, no Python); one doc-key "
    "agg then a bounded (source x lang) rollup.",
    """
    WITH big AS (
      SELECT doc_id, lang, source,
             ('0x' || substr(md5(bg), 1, 15))::BIGINT % 256 AS b
      FROM (
        SELECT doc_id, lang, source,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM (SELECT doc_id, lang, source,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS t
              FROM documents)
        WHERE len(t) >= 2
      )
    ),
    buckets AS (
      SELECT b,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_target,
             CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM big GROUP BY b
    ),
    scored AS (
      SELECT g.doc_id, g.lang, g.source,
             CAST(SUM((k.n_target + 1) * 1000000 // (k.n_raw + 1)) AS BIGINT)
               // CAST(COUNT(*) AS BIGINT) AS w_ppm
      FROM big g JOIN buckets k ON k.b = g.b
      GROUP BY g.doc_id, g.lang, g.source
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w_ppm) // COUNT(*) AS BIGINT) AS avg_w_ppm
    FROM scored
    GROUP BY source, lang
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.lower("text"))
    big = (
        docs.select("doc_id", "lang", "source", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat(
                        F.element_at(F.col("t"), i),
                        F.lit(" "),
                        F.element_at(F.col("t"), i + 1),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", "source", hash_bucket(F.col("bg"), 256).alias("b"))
    )
    # the hashed-bigram stream feeds BOTH the bucket-rate aggregation
    # and the per-doc scoring join: persist it or the tokenize + bigram
    # explode + md5 pass runs once per consumer (the multi-consumer-
    # subtree hazard — CLAUDE.md convention). Measured at sf1: 10.6 s
    # un-persisted -> 0.8 s persisted (best-of-2, round-8 HEAD sf1
    # bench — the cold first rep pays the tokenize once, the second
    # hits the persisted stream; docs/SCALING.md round-8 section).
    # Key carries sf_dir (memo key hygiene): alternating SF dirs
    # churn separate slots instead of evicting each other.
    big = memo(f"dsir_bigrams:{sf_dir}", lambda: big)
    buckets = big.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_target"),
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
    )
    scored = (
        big.join(F.broadcast(buckets), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.expr(
                "CAST(SUM((n_target + 1) * 1000000 DIV (n_raw + 1)) AS BIGINT)"
                " DIV CAST(COUNT(*) AS BIGINT)"
            ).alias("w_ppm")
        )
    )
    return scored.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(w_ppm) DIV COUNT(*) AS BIGINT)").alias("avg_w_ppm"),
    )


# ---------------------------------------------------------------------------
# Token-distribution impurity per source (entropy surrogate, libm-free)
# ---------------------------------------------------------------------------


@register(
    "token_gini_by_source",
    "Lexical-diversity profile per source: token count, type count, "
    "type-token ratio (ppm), and Gini impurity of the token "
    "distribution (1 - sum p_i^2, the libm-free entropy surrogate per "
    "CROSS_ENGINE rule 4) in ppm fixed point: 1e6 - sum(c^2)*1e6 DIV "
    "N^2. Magnitude bound: sum(c^2) <= N^2; the *1e6 product stays "
    "under 2^63 while N < 3e6 tokens/source (holds through sf1; at "
    "larger scale promote the product to DECIMAL(38,0) like the twap "
    "pattern). One vocab-keyed shuffle then a bounded per-source agg.",
    """
    WITH tok AS (
      SELECT source, lower(t) AS tok
      FROM (SELECT source,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS t
            FROM documents)
    ),
    counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST(1000000 - SUM(c * c) * 1000000 // (SUM(c) * SUM(c))
                AS BIGINT) AS gini_ppm
    FROM counts
    GROUP BY source
    """,
)
def q_token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(text.tokens("text")).alias("t"),
    ).select("source", F.lower("t").alias("tok"))
    counts = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.expr("CAST(COUNT(*) * 1000000 DIV SUM(c) AS BIGINT)").alias("ttr_ppm"),
        F.expr(
            "CAST(1000000 - SUM(c * c) * 1000000 DIV (SUM(c) * SUM(c)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Directed containment dedup (subset duplicates)
# ---------------------------------------------------------------------------


def _duck_containment(max_df: int) -> str:
    """Directed-containment oracle mirroring operators/dedup.py::
    containment_pairs: the shared df-capped jaccard CTE chain
    (sh/sizes/inter from _duck_jaccard), then both
    directions of containment = ni / |contained|."""

    return f"""
    WITH {_duck_jaccard(max_df=max_df)},
    joined AS (
      SELECT i.id_a, i.id_b, i.ni, sa.sz AS size_a, sb.sz AS size_b
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.doc_id
      JOIN sizes sb ON i.id_b = sb.doc_id
    ),
    directed AS (
      SELECT id_a AS contained_id, id_b AS container_id,
             CAST(ni AS DOUBLE) / CAST(size_a AS DOUBLE) AS containment
      FROM joined
      UNION ALL
      SELECT id_b, id_a, CAST(ni AS DOUBLE) / CAST(size_b AS DOUBLE)
      FROM joined
    )
    SELECT contained_id, container_id, containment
    FROM directed WHERE containment >= 0.8
    """


@register(
    "dedup_containment_pairs",
    "Directed shingle-containment near-dup pairs (threshold 0.8): "
    "C(A->B) = |shingles A ∩ B| / |shingles A| — the asymmetric signal "
    "that catches a document wholly EMBEDDED in a longer one, which "
    "Jaccard misses when the container is much larger. Same df-capped "
    "shared-shingle equi-join (and same cached shingle tables) as "
    "dedup_ngram_jaccard, so candidate fan-out stays <= max_df^2 per "
    "shingle — linear in corpus size; each candidate emits at most two "
    "directed rows. Cites operators/dedup.py::containment_pairs.",
    _duck_containment(max_df=100),
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.8, max_df=100)


# ---------------------------------------------------------------------------
# BPE merge training, 3 unrolled rounds
# ---------------------------------------------------------------------------


def _bpe_round_sql(prev: str, out_v: str, out_t: str, rnd: int) -> str:
    """One BPE round as CTE text: pair counts over the canonical
    '|tok|'-wrapped sequence, the single best merge (count desc, pair
    asc), and the merged vocabulary."""
    return f"""
    p{rnd} AS (
      SELECT bg, CAST(SUM(f) AS BIGINT) AS n
      FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg, f
        FROM (SELECT list_filter(string_split(seq, '|'), x -> x <> '') AS t,
                     f
              FROM {prev})
        WHERE len(t) >= 2
      )
      GROUP BY bg
    ),
    {out_t} AS (SELECT bg, n FROM p{rnd} ORDER BY n DESC, bg LIMIT 1),
    {out_v} AS (
      SELECT replace(seq,
                     '|' || replace(t.bg, ' ', '||') || '|',
                     '|' || replace(t.bg, ' ', '') || '|') AS seq,
             f
      FROM {prev} CROSS JOIN {out_t} t
    )"""


def _bpe_round(v: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE round over a (seq, f) vocabulary, the Spark side of
    ``_bpe_round_sql``: (top, merged), the single best merge (count desc,
    pair asc) as (bg, n), and the vocabulary with it applied."""
    t = text.bpe_tokens("seq")
    pairs = (
        v.select(t.alias("t"), "f")
        .filter(F.size("t") >= 2)
        .select(F.explode(text.bpe_adjacent_pairs(F.col("t"))).alias("bg"), "f")
        .groupBy("bg")
        .agg(F.sum("f").cast("bigint").alias("n"))
    )
    top = pairs.orderBy(F.desc("n"), "bg").limit(1)
    merged = v.crossJoin(F.broadcast(top)).select(
        text.bpe_apply_merge("seq", F.col("bg")).alias("seq"), "f"
    )
    return top, merged


@register(
    "bpe_merge_rounds",
    "Three unrolled rounds of BPE merge training over the corpus word "
    "vocabulary. The classic scale trick: aggregate the corpus to its "
    "word vocabulary ONCE (the only corpus-size shuffle), then every "
    "round's pair counting explodes vocabulary entries only — work is "
    "bounded by vocab size x max word length, independent of corpus "
    "row count. Token sequences live in the canonical '|tok|' wrapped "
    "string form, where a merge of pair (x, y) is the plain left-to-"
    "right substring replace of '|x||y|' with '|xy|' — exactly BPE's "
    "greedy non-overlapping merge semantics, with no regex and no "
    "Python. The per-round best pair is a 1-row frame cross-joined "
    "back (broadcast — no driver collect); ties break on pair text. "
    "Output: the 3 chosen merges with weighted counts.",
    f"""
    WITH words AS (
      SELECT lower(t) AS w
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS t
            FROM documents)
      WHERE regexp_matches(lower(t), '^[a-z]+$')
    ),
    v0 AS (
      SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS seq,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM words WHERE length(w) >= 2
      GROUP BY w
    ),
    {_bpe_round_sql('v0', 'v1', 't1', 1)},
    {_bpe_round_sql('v1', 'v2', 't2', 2)},
    {_bpe_round_sql('v2', 'v3', 't3', 3)}
    SELECT * FROM (
      SELECT CAST(1 AS INTEGER) AS round, bg AS merged_pair, n FROM t1
      UNION ALL
      SELECT CAST(2 AS INTEGER), bg, n FROM t2
      UNION ALL
      SELECT CAST(3 AS INTEGER), bg, n FROM t3
    ) ORDER BY round
    """,
)
def q_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(text.tokens("text")).alias("t")
        )
        .select(F.lower("t").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f")).select(
        text.bpe_canonical("w").alias("seq"), "f"
    )

    # Each round consumes its input vocabulary from TWO branches (the
    # pair-count/top-1 derivation and the merge application), so an
    # un-materialized chain re-evaluates the corpus-size vocab aggregate
    # 2^round times — 7 words-explode passes for 3 rounds (measured as
    # 8 BNLJ nodes / 28 Exchanges in the r10 before-plan). The frames
    # are vocab-bounded, exactly the expensive-subtree class CLAUDE.md's
    # materialization rule targets: one checkpoint per round
    # makes every vocabulary exactly once-evaluated (r10: 1.53s -> ~0.9s
    # at sf0.1, 28 -> 8 Exchanges).
    t1, v1 = _bpe_round(checkpoint(vocab))
    t2, v2 = _bpe_round(checkpoint(v1))
    t3, _ = _bpe_round(checkpoint(v2))
    out = (
        t1.select(F.lit(1).cast("int").alias("round"), F.col("bg").alias("merged_pair"), "n")
        .unionByName(
            t2.select(F.lit(2).cast("int").alias("round"), F.col("bg").alias("merged_pair"), "n")
        )
        .unionByName(
            t3.select(F.lit(3).cast("int").alias("round"), F.col("bg").alias("merged_pair"), "n")
        )
    )
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Leakage-safe dataset split (cluster-aware)
# ---------------------------------------------------------------------------


@register(
    "leakage_safe_split",
    "Cluster-aware train/val/test split: documents are assigned to "
    "splits by hashing their exact-dup CLUSTER fingerprint (canonical-"
    "text md5), not their doc id — so every copy of the same content "
    "lands in the same split and the eval set cannot leak into "
    "training via duplicates (the contamination mode Lee et al. 2022 "
    "measure). 80/10/10 by hash bucket. The leaked_clusters column is "
    "computed honestly (clusters spanning >1 split), not assumed: it "
    "must be 0, and the oracle hash-checks that claim. Scale: one "
    "narrow map for fingerprint+split, one groupBy per aggregate — "
    "leakage audit is a fingerprint-keyed two-phase count-distinct, "
    "linear at corpus size.",
    """
    WITH d AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents
    ),
    s AS (
      SELECT doc_id, fingerprint,
             CASE
               WHEN ('0x' || substr(md5(fingerprint), 1, 15))::BIGINT % 10 < 8
                 THEN 'train'
               WHEN ('0x' || substr(md5(fingerprint), 1, 15))::BIGINT % 10 = 8
                 THEN 'val'
               ELSE 'test'
             END AS split_name
      FROM d
    ),
    leak AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS leaked_clusters
      FROM (SELECT fingerprint, COUNT(DISTINCT split_name) AS n_splits
            FROM s GROUP BY fingerprint)
    )
    SELECT split_name,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS n_clusters,
           leaked_clusters
    FROM s CROSS JOIN leak
    GROUP BY split_name, leaked_clusters
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.md5(text.canonical_text(F.col("text"))).alias("fingerprint")
    )
    bucket = hash_bucket(F.col("fingerprint"), 10)
    s = d.select(
        "doc_id",
        "fingerprint",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias(
            "split_name"
        ),
    )
    leak = (
        s.groupBy("fingerprint")
        .agg(F.countDistinct("split_name").alias("n_splits"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("leaked_clusters")
        )
    )
    return (
        s.crossJoin(F.broadcast(leak))
        .groupBy("split_name", "leaked_clusters")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("fingerprint").cast("bigint").alias("n_clusters"),
        )
        .select("split_name", "n_docs", "n_clusters", "leaked_clusters")
    )


# ---------------------------------------------------------------------------
# Dedup-weighted effective dataset size per source
# ---------------------------------------------------------------------------


@register(
    "dedup_weighted_tokens",
    "Dedup-aware mixture accounting: every document is down-weighted "
    "by 1/size of its exact-dup cluster (weight in ppm via truncating "
    "DIV — engine-identical), so a source whose volume is mostly "
    "copies contributes its EFFECTIVE token mass, not its raw mass — "
    "the number a training-mixture designer actually needs. A cluster "
    "spanning several sources splits its unit weight across them "
    "naturally (each copy carries 1/size). Per-row multiply-then-"
    "divide (tokens*1e6 DIV size, bounded: tokens < 2^20, so the "
    "product < 2^40) keeps truncation loss per-document, not "
    "per-source. One window count over the fingerprint partition + "
    "one source aggregate; both keys are hash-shuffled once.",
    """
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fingerprint
      FROM documents
    ),
    sized AS (
      SELECT source, n_tok,
             COUNT(*) OVER (PARTITION BY fingerprint) AS csize
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(1000000 // csize) AS BIGINT) AS eff_docs_ppm,
           CAST(SUM((n_tok * 1000000) // csize) AS BIGINT) AS eff_tokens_ppm
    FROM sized
    GROUP BY source
    """,
)
def q_dedup_weighted_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        text.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        F.md5(text.canonical_text(F.col("text"))).alias("fingerprint"),
    )
    sized = d.select(
        "source",
        "n_tok",
        F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).alias("csize"),
    )
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.expr("1000000 DIV csize")).cast("bigint").alias("eff_docs_ppm"),
        F.sum(F.expr("(n_tok * 1000000) DIV csize")).cast("bigint").alias("eff_tokens_ppm"),
    )


# ---------------------------------------------------------------------------
# RAKE-lite keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOPWORDS = (
    "the", "a", "of", "and", "is", "to", "in", "for", "on", "with",
)
_RAKE_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS) + ")"


@register(
    "doc_keyphrase_rake",
    "RAKE-lite corpus keyphrases (Rose et al. 2010): candidate "
    "phrases are maximal stopword-free token runs (gaps-and-islands "
    "over token positions — the phrase id is pos minus the non-stop "
    "row_number, rule-32 two-level windows), word scores are "
    "degree/frequency where degree sums the lengths of every phrase "
    "an occurrence sits in, and a phrase scores the sum of its "
    "words' degree*1e6 DIV freq in fixed point — no floats anywhere. "
    "Output: corpus top-20 phrases by (score, phrase) with occurrence "
    "counts — deterministic total order (rule 20). Scale: one "
    "position explode (linear), per-doc windows, one word-stat "
    "aggregate joined back by word — never a phrase cross join.",
    f"""
    WITH toks AS (
      SELECT doc_id, pos,
             regexp_replace(lower(tok), '[^a-z0-9]', '', 'g') AS w
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS tok,
               generate_subscripts(list_filter(string_split(text, ' '),
                                               x -> x <> ''), 1) AS pos
        FROM documents
      )
    ),
    nonstop AS (
      SELECT doc_id, pos, w,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM toks
      WHERE w <> '' AND w NOT IN {_RAKE_STOP_SQL}
    ),
    withlen AS (
      SELECT doc_id, grp, pos, w,
             COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen
      FROM nonstop
    ),
    wordstats AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS degree
      FROM withlen GROUP BY w
    ),
    phrases AS (
      SELECT wl.doc_id, wl.grp,
             string_agg(wl.w, ' ' ORDER BY wl.pos) AS phrase,
             CAST(SUM(s.degree * 1000000 // s.freq) AS BIGINT) AS score_fp
      FROM withlen wl JOIN wordstats s ON s.w = wl.w
      GROUP BY wl.doc_id, wl.grp
    )
    SELECT phrase, n_occurrences, score_fp FROM (
      SELECT phrase,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             MAX(score_fp) AS score_fp,
             ROW_NUMBER() OVER (ORDER BY MAX(score_fp) DESC, phrase) AS rn
      FROM phrases
      GROUP BY phrase
    ) WHERE rn <= 20
    """,
)
def q_doc_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(text.tokens(F.col("text"))).alias("pos0", "tok")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.regexp_replace(F.lower(F.col("tok")), "[^a-z0-9]", "").alias("w"),
    )
    nonstop = toks.filter(
        (F.col("w") != "") & ~F.col("w").isin(*_RAKE_STOPWORDS)
    ).withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    # NOTE (r10): withlen feeds two branches (word stats + the phrase
    # probe) and is window-heavy, but a checkpoint barrier here
    # measured SLOWER at sf0.1 (3.9s vs 1.9s warm): the duplicate
    # branches pipeline in parallel on idle cores while the barrier
    # serializes build->exec — the skipgram counterexample class. The
    # two-branch shape stands; revisit only if the token frame's double
    # evaluation shows up at cluster scale.
    withlen = nonstop.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "grp"))
    )
    wordstats = withlen.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    phrases = (
        withlen.join(wordstats, "w")
        .groupBy("doc_id", "grp")
        .agg(
            # rule 21: explicit order inside the aggregation via sorted structs
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum(F.expr("degree * 1000000 DIV freq")).cast("bigint").alias("score_fp"),
        )
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
    # partial top-k, no single-partition global window — the phrase
    # table scales with the corpus). Identical rows to the former
    # row_number() filter: (score_fp DESC, phrase ASC) is a total order
    # because phrase is unique after the groupBy.
    return (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("score_fp").alias("score_fp"),
        )
        .orderBy(F.desc("score_fp"), F.asc("phrase"))
        .limit(20)
        .select("phrase", "n_occurrences", "score_fp")
    )

_FERTILITY_ORACLE = f"""
    WITH wsrc AS (
      SELECT source, lower(t) AS w
      FROM (SELECT source,
                   unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS t
            FROM documents)
      WHERE regexp_matches(lower(t), '^[a-z]+$') AND length(lower(t)) >= 2
    ),
    v0 AS (
      SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS seq,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM wsrc
      GROUP BY w
    ),
    {_bpe_round_sql('v0', 'v1', 't1', 1)},
    {_bpe_round_sql('v1', 'v2', 't2', 2)},
    {_bpe_round_sql('v2', 'v3', 't3', 3)},
    vocab_tok AS (
      SELECT replace(seq, '|', '') AS w,
             CAST(len(list_filter(string_split(seq, '|'), x -> x <> ''))
                  AS BIGINT) AS ntok
      FROM v3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(v.ntok) * 1000000 // COUNT(*) AS BIGINT) AS fertility_ppm
    FROM wsrc s JOIN vocab_tok v ON v.w = s.w
    GROUP BY source
"""


@register(
    "tokenizer_fertility_by_source",
    "Tokenizer fertility (tokens emitted per word) per corpus source "
    "after the SAME 3-round corpus-level BPE training as "
    "bpe_merge_rounds — the curation metric that tells you which "
    "sources a vocabulary serves poorly (high fertility = more "
    "sequence length spent per word). The merged vocabulary maps "
    "back to its word by stripping the canonical pipes, joins to the "
    "per-source word census (vocab-sized join), and per source the "
    "exact token/word totals give fertility in ppm. Training work is "
    "bounded by vocab size x word length (the corpus aggregates to "
    "its vocabulary once); only alphabetic words of length >= 2 "
    "participate (the trained population).",
    _FERTILITY_ORACLE,
)
def q_tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words_src = (
        docs.select(
            "source",
            F.explode(text.tokens("text")).alias("t"),
        )
        .select("source", F.lower("t").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    vocab = (
        words_src.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .select(text.bpe_canonical("w").alias("seq"), "f")
    )

    # Same two-consumer-per-round shape as bpe_merge_rounds: without a
    # barrier each round re-evaluates its input vocabulary once per
    # branch (2^rounds words-explode passes; 14 BNLJ nodes in the r10
    # before-plan). Vocab-bounded frames — one checkpoint per
    # round per the CLAUDE.md materialization rule.
    v3 = vocab
    for _ in range(3):
        _, v3 = _bpe_round(checkpoint(v3))
    vocab_tok = v3.select(
        F.replace(F.col("seq"), F.lit("|"), F.lit("")).alias("w"),
        F.size(text.bpe_tokens("seq")).cast("bigint").alias("ntok"),
    )
    return (
        words_src.join(vocab_tok, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            F.expr("CAST(n_tokens * 1000000 DIV n_words AS BIGINT)").alias(
                "fertility_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix
# ---------------------------------------------------------------------------


@register(
    "language_id_confusion",
    "Confusion matrix of the heuristic language-ID against the "
    "corpus's labeled lang column — upgrading the classifier from "
    "'here are its predictions' to a measured per-language precision "
    "surface (the eval-harness discipline: approximation loss as "
    "numbers, not vibes). Joins the shared language_id operator "
    "output to the labels it never saw, emits the (true, predicted) "
    "census with per-TRUE-language recall in ppm via a window over "
    "the bounded matrix. One scan + one bounded aggregate.",
    """
    WITH hits AS (
      SELECT doc_id, lang,
             len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS c_en,
             len(list_filter(tk, x -> x IN ('le','la','et','les','une'))) AS c_fr,
             len(list_filter(tk, x -> x IN ('el','los','y','que','una'))) AS c_es,
             len(list_filter(tk, x -> x IN ('der','die','und','das','ein'))) AS c_de,
             len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS c_cjk
      FROM (SELECT doc_id, lang, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents)
    ),
    preds AS (
      SELECT lang AS true_lang,
             CASE
               WHEN c_cjk > 0 THEN 'zh'
               WHEN c_en = greatest(c_en, c_fr, c_es, c_de) AND c_en > 0 THEN 'en'
               WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) AND c_fr > 0 THEN 'fr'
               WHEN c_es = greatest(c_en, c_fr, c_es, c_de) AND c_es > 0 THEN 'es'
               WHEN c_de = greatest(c_en, c_fr, c_es, c_de) AND c_de > 0 THEN 'de'
               ELSE 'unknown' END AS pred_lang
      FROM hits
    ),
    cm AS (
      SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM preds GROUP BY true_lang, pred_lang
    )
    SELECT true_lang, pred_lang, n_docs,
           CAST(n_docs * 1000000
                // SUM(n_docs) OVER (PARTITION BY true_lang) AS BIGINT)
             AS share_of_true_ppm,
           true_lang = pred_lang AS is_correct
    FROM cm
    """,
)
def q_language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    preds = text.language_id(docs).select("doc_id", "pred_lang")
    cm = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return cm.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.expr(
            "CAST(n_docs * 1000000 DIV SUM(n_docs)"
            " OVER (PARTITION BY true_lang) AS BIGINT)"
        ).alias("share_of_true_ppm"),
        (F.col("true_lang") == F.col("pred_lang")).alias("is_correct"),
    )


# ---------------------------------------------------------------------------
# Per-source n-gram exclusivity
# ---------------------------------------------------------------------------


@register(
    "source_ngram_exclusivity",
    "Content-overlap diagnostic for mixture design: per source, how "
    "many of its distinct 3-gram shingles appear in NO other source "
    "(exclusivity in ppm) — high exclusivity = the source adds "
    "genuinely new text; low = it mostly restates the pool and its "
    "mixture weight should reflect that (the n-gram-level companion "
    "to the MinHash source-similarity matrix). One (shingle, source) "
    "distinct pass; a shingle's source count joins back on the "
    "shingle key — shuffle on shingle hash, linear in corpus "
    "shingle volume, never a source x source pairing.",
    """
    WITH sh AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest(list_transform(
                 range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
        FROM (SELECT source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents)
        WHERE len(t) >= 3
      )
    ),
    df AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM sh GROUP BY shingle
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exclusive,
           CAST(SUM(CASE WHEN d.n_sources = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS exclusivity_ppm
    FROM sh s JOIN df d ON d.shingle = s.shingle
    GROUP BY s.source
    """,
)
def q_source_ngram_exclusivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text")).alias("t")
    base = docs.select("source", toks)
    grams = F.when(
        F.size(F.col("t")) >= 3,
        F.expr(
            "transform(sequence(0, size(t) - 3),"
            " i -> array_join(slice(t, i + 1, 3), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = base.select("source", F.explode(grams).alias("shingle")).distinct()
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).cast("bigint").alias("n_sources"))
    return (
        sh.join(df, "shingle")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exclusive"),
            F.expr(
                "CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("exclusivity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Bag-of-words (order-insensitive) dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_bag_of_words",
    "Order-insensitive dedup census: fingerprint = md5 of the SORTED "
    "token multiset (deterministic total order, rule 21), catching "
    "documents that are word shuffles of each other, which exact "
    "canonical-text dedup misses by design. Output is a one-row "
    "corpus summary (docs, bag groups, dup groups/docs, and the "
    "order-only groups that merged distinct exact fingerprints) — "
    "always non-empty, so the oracle compares real values at every "
    "scale factor (the synthetic corpus only grows bag-dups at "
    "sf0.1+; a groups-only output would be vacuously green below "
    "that). Same hash-groupBy scale shape as exact dedup.",
    """
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(
               list_filter(string_split(lower(trim(regexp_replace(text,
                 '\\s+', ' ', 'g'))), ' '), x -> x <> '')), ' '))
               AS bag_fp,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS exact_fp
      FROM documents
    ),
    g AS (
      SELECT bag_fp,
             CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(COUNT(DISTINCT exact_fp) AS BIGINT) AS n_exact_groups
      FROM f GROUP BY bag_fp
    )
    SELECT CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bags,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END)
                AS BIGINT) AS n_docs_in_dups,
           CAST(SUM(CASE WHEN n_copies > n_exact_groups THEN 1 ELSE 0 END)
                AS BIGINT) AS n_order_only_groups
    FROM g
    """,
)
def q_dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    canon = text.canonical_text(F.col("text"))
    f = docs.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(text.tokens(canon)), " ")).alias("bag_fp"),
        F.md5(canon).alias("exact_fp"),
    )
    g = f.groupBy("bag_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.countDistinct("exact_fp").cast("bigint").alias("n_exact_groups"),
    )
    return g.agg(
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_bags"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("n_copies") > 1, F.col("n_copies")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_in_dups"),
        F.sum(F.when(F.col("n_copies") > F.col("n_exact_groups"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_order_only_groups"),
    )


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
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        text.canonical_text(F.col("text")).alias("canon"),
    )
    # Same (doc_id, 3-gram shingle) table the whole dedup family shares
    # ("doc_shingles" — jaccard/minhash/containment): one tokenize+
    # explode+distinct per corpus per session instead of a private
    # rebuild feeding this query's THREE consumers (df cap + both join
    # sides).
    sh = memo("doc_shingles", lambda: dedup.shingle_sets(docs))
    cand = (
        dedup._shared_shingle_pairs(dedup.cap_document_frequency(sh, _EDIT_MAX_DF), "doc_id")
        .filter(F.col("n_inter") >= _EDIT_MIN_SHARED)
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
# Boilerplate prefix census across the corpus
# ---------------------------------------------------------------------------

_BP_PREFIX = 40
_BP_TOPK = 15


@register(
    "boilerplate_prefix_census",
    "Boilerplate header census: the top repeated 40-char canonical "
    "prefixes across the corpus with document counts, distinct "
    "sources touched, and corpus share ppm — the cross-document "
    "template detector (license headers, scraped nav chrome) that "
    "in-document repetition signals (doc_repetition_ratios) cannot "
    "see. Pure groupBy on the prefix key (one shuffle, no pairwise "
    "anything — prefix equality IS the blocking), top-15 under the "
    "(count DESC, prefix) total order (rule 20).",
    f"""
    WITH p AS (
      SELECT substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
               1, {_BP_PREFIX}) AS prefix,
             source
      FROM documents
    ),
    g AS (
      SELECT prefix,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM p GROUP BY prefix
    )
    SELECT prefix, n_docs, n_sources,
           CAST(n_docs * 1000000 // (SELECT COUNT(*) FROM documents)
             AS BIGINT) AS corpus_share_ppm
    FROM g
    ORDER BY n_docs DESC, prefix LIMIT {_BP_TOPK}
    """,
)
def q_boilerplate_prefix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.substring(text.canonical_text(F.col("text")), 1, _BP_PREFIX).alias("prefix"),
        "source",
    )
    g = p.groupBy("prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        dq.scalar_join(g, total)
        .select(
            "prefix",
            "n_docs",
            "n_sources",
            F.expr("CAST(n_docs * 1000000 DIV n_total AS BIGINT)").alias(
                "corpus_share_ppm"
            ),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(_BP_TOPK)
    )


# ---------------------------------------------------------------------------
# Wasserstein-1 (earth mover's) distance between source length profiles
# ---------------------------------------------------------------------------

_W1_BUCKET_WIDTH = 4
_W1_BUCKETS = 256
_W1_SRC_A = "src0"
_W1_SRC_B = "src1"


@register(
    "source_divergence_wasserstein",
    "Wasserstein-1 (earth mover's) distance between two sources' "
    "document-length distributions on the equi-width 256-bucket "
    "grid: W1 = sum over buckets of |CDF_a - CDF_b| * width — the "
    "L1 drift metric that completes the divergence family (KS = "
    "sup-norm, CvM = L2, chi2 = pointwise): unlike KS it feels HOW "
    "FAR mass moved, not just the worst gap. Exact integers "
    "throughout: both CDFs cross-multiplied (|cum_a*n_b - "
    "cum_b*n_a|) so no per-bucket division, ONE final fixed-point "
    "division to micro-bucket-widths (rule 4). Both populations "
    "bucket in one conditional-aggregate scan; the cumsum runs over "
    "the bounded 256-row bucket table (same posture as "
    "source_divergence_ks).",
    f"""
    WITH d AS (
      SELECT LEAST(n_chars // {_W1_BUCKET_WIDTH}, {_W1_BUCKETS - 1}) AS b,
             CASE WHEN source = '{_W1_SRC_A}' THEN 1 ELSE 0 END AS ina,
             CASE WHEN source = '{_W1_SRC_B}' THEN 1 ELSE 0 END AS inb
      FROM documents
      WHERE source IN ('{_W1_SRC_A}', '{_W1_SRC_B}')
    ),
    g AS (
      SELECT b, SUM(ina) AS ca, SUM(inb) AS cb
      FROM d GROUP BY b
    ),
    cum AS (
      SELECT b,
             SUM(ca) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
             SUM(cb) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb,
             SUM(ca) OVER () AS na,
             SUM(cb) OVER () AS nb
      FROM g
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_occupied_buckets,
           CAST(SUM(abs(fa * nb - fb * na)) * 1000000
                // (MAX(na) * MAX(nb)) AS BIGINT)
             AS w1_microbuckets
    FROM cum
    """,
)
def q_source_divergence_wasserstein(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(_W1_SRC_A, _W1_SRC_B)
    )
    d = docs.select(
        F.least(
            F.expr(f"n_chars DIV {_W1_BUCKET_WIDTH}"), F.lit(_W1_BUCKETS - 1)
        ).alias("b"),
        F.when(F.col("source") == _W1_SRC_A, 1).otherwise(0).alias("ina"),
        F.when(F.col("source") == _W1_SRC_B, 1).otherwise(0).alias("inb"),
    )
    g = d.groupBy("b").agg(F.sum("ina").alias("ca"), F.sum("inb").alias("cb"))
    # bounded 256-row bucket table: single-partition windows by design
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = g.select(
        "b",
        F.sum("ca").over(wcum).alias("fa"),
        F.sum("cb").over(wcum).alias("fb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return cum.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_occupied_buckets"),
        F.expr(
            "CAST(SUM(abs(fa * nb - fb * na)) * 1000000"
            " DIV (MAX(na) * MAX(nb)) AS BIGINT)"
        ).alias("w1_microbuckets"),
    )


# ---------------------------------------------------------------------------
# Log-free collocation lift over corpus bigrams
# ---------------------------------------------------------------------------

_COLL_MIN_SUPPORT = 20
_COLL_TOP_K = 20


@register(
    "bigram_collocation_lift",
    "Collocation strength for corpus bigrams WITHOUT logarithms "
    "(PMI's monotone twin): lift = P(xy) / (P(x) P(y)) computed as "
    "the exact integral ppm (c_xy * N_tok^2 * 1e6) DIV (N_big * c_x "
    "* c_y) — products ride HUGEINT/DECIMAL(38,0) (rule 36; ~1e30 at "
    "sf100, well inside 38 digits), so the ranking is bit-exact where "
    "a float PMI would be engine-ordered. Extends ngram_top_bigrams "
    "(raw frequency) with association strength; min support "
    f"{_COLL_MIN_SUPPORT} kills the hapax noise floor. Two token-key "
    "shuffles (bigram counts, unigram counts) + two equi-joins of "
    "bigrams to their component counts; scalars broadcast.",
    f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_tok FROM tok GROUP BY tok
    ),
    big AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bigram FROM documents)
      GROUP BY bigram
      HAVING COUNT(*) >= {_COLL_MIN_SUPPORT}
    ),
    tots AS (
      SELECT (SELECT CAST(SUM(c_tok) AS BIGINT) FROM uni) AS n_tok,
             (SELECT CAST(COALESCE(SUM(c_xy), 0) AS BIGINT)
              FROM (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
                    FROM (SELECT unnest({_DUCK_BIGRAMS}) AS bigram
                          FROM documents) GROUP BY bigram)) AS n_big
    ),
    lifted AS (
      SELECT b.bigram, b.c_xy, ux.c_tok AS c_x, uy.c_tok AS c_y,
             CAST(CAST(b.c_xy AS HUGEINT) * t.n_tok * t.n_tok * 1000000
                  // (CAST(t.n_big AS HUGEINT) * ux.c_tok * uy.c_tok)
                  AS BIGINT) AS lift_ppm
      FROM big b
      JOIN uni ux ON ux.tok = string_split(b.bigram, ' ')[1]
      JOIN uni uy ON uy.tok = string_split(b.bigram, ' ')[2]
      CROSS JOIN tots t
    )
    SELECT bigram, c_xy, c_x, c_y, lift_ppm FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, bigram) AS rk
      FROM lifted
    ) WHERE rk <= {_COLL_TOP_K}
    """,
)
def q_bigram_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(text.tokens("text")).alias("tok"))
    uni = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_tok")
    )
    bigr = docs.select(F.explode(text.bigrams("text")).alias("bigram"))
    big_all = bigr.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    big = big_all.filter(F.col("c_xy") >= _COLL_MIN_SUPPORT)
    n_tok = uni.agg(F.sum("c_tok").cast("bigint").alias("n_tok"))
    n_big = big_all.agg(
        F.coalesce(F.sum("c_xy"), F.lit(0)).cast("bigint").alias("n_big")
    )
    lifted = (
        big.withColumn("x", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("y", F.split(F.col("bigram"), " ").getItem(1))
        .join(uni.select(F.col("tok").alias("x"), F.col("c_tok").alias("c_x")), "x")
        .join(uni.select(F.col("tok").alias("y"), F.col("c_tok").alias("c_y")), "y")
        .crossJoin(F.broadcast(dq.scalar_join(n_tok, n_big)))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(38,0)) * n_tok * n_tok * 1000000"
                " DIV (CAST(n_big AS DECIMAL(38,0)) * c_x * c_y) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    # r11: top-K via orderBy().limit() = TakeOrderedAndProject (per-
    # partition partial top-K), not a row_number over an unpartitioned
    # window — the supported-bigram table is corpus-scale, and the
    # global window funneled it through one task (the doc_keyphrase_rake
    # scale-killer class). (lift_ppm DESC, bigram) is a total order, so
    # the kept row set is identical.
    return (
        lifted.orderBy(F.col("lift_ppm").desc(), "bigram")
        .limit(_COLL_TOP_K)
        .select("bigram", "c_xy", "c_x", "c_y", "lift_ppm")
    )


# ---------------------------------------------------------------------------
# Heaps-law lexical growth: distinct types in power-of-4 token prefixes
# ---------------------------------------------------------------------------

_HL_BLOCKS = (1024, 4096, 16384, 65536)


@register(
    "heaps_law_blocks",
    "Heaps-law lexical growth per source WITHOUT logarithms: distinct "
    "token types within the first 1K/4K/16K/64K tokens of each "
    "source's doc_id-ordered stream — the vocabulary-growth curve "
    "that predicts tokenizer OOV rates as a corpus scales, read off "
    "at power-of-4 checkpoints instead of fitting the log-log slope. "
    "Global token positions come from per-source doc offsets via "
    "two_phase_scan (operators/ranking.py — no source "
    "ever serializes through one window task) + posexplode ordinals; "
    "a type is 'within block B' iff its FIRST occurrence position "
    "<= B (min-aggregate per (source, token)). Only complete blocks "
    "(B <= source token count) are emitted. Shuffles: the cumsum "
    "pair, the first-occurrence agg, the bounded 4x rollup.",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS tk,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n
      FROM documents
    ),
    o AS (
      SELECT doc_id, source, tk,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM d
    ),
    tok AS (
      SELECT source, off + i AS gpos, tk[i] AS tok
      FROM o, unnest(range(1, len(tk) + 1)) AS t(i)
    ),
    fo AS (
      SELECT source, tok, MIN(gpos) AS fp FROM tok GROUP BY source, tok
    ),
    tot AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM d GROUP BY source
    ),
    blocks(b) AS (VALUES {', '.join(f'({b})' for b in _HL_BLOCKS)})
    SELECT f.source, CAST(b.b AS BIGINT) AS block_size, t.n_tokens,
           CAST(SUM(CASE WHEN f.fp <= b.b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_types
    FROM fo f
    JOIN tot t ON t.source = f.source
    CROSS JOIN blocks b
    WHERE b.b <= t.n_tokens
    GROUP BY f.source, b.b, t.n_tokens
    """,
)
def q_heaps_law_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", text.tokens("text").alias("tk")
    ).withColumn("n", F.size("tk").cast("bigint"))
    spec = ("off", ["doc_id"], F.expr("doc_id DIV 256"), F.col("n"), "sum", True)
    cum = two_phase_scan(docs, ["source"], [spec])
    # the scan's off_total is the source's token count: carried through
    # the explode, it spares a second tokenizing pass over docs
    tok = cum.select(
        "source",
        F.col("off_total").alias("n_tokens"),
        "off",
        F.posexplode("tk").alias("i0", "tok"),
    ).select(
        "source",
        "n_tokens",
        (F.col("off") + F.col("i0") + 1).alias("gpos"),
        "tok",
    )
    fo = tok.groupBy("source", "n_tokens", "tok").agg(F.min("gpos").alias("fp"))
    blocks = spark.createDataFrame(
        [(b,) for b in _HL_BLOCKS], "b long"
    )
    return (
        fo.crossJoin(F.broadcast(blocks))
        .filter(F.col("b") <= F.col("n_tokens"))
        .groupBy(
            "source", F.col("b").cast("bigint").alias("block_size"), "n_tokens"
        )
        .agg(
            F.sum(F.when(F.col("fp") <= F.col("b"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_types")
        )
    )


# portable 60-bit hash (``sketch.md5_int``): identical bits on both engines
_H_DUCK = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# MOSS-style winnowing fingerprint census
# ---------------------------------------------------------------------------

_WN_K = 4  # tokens per k-gram
_WN_W = 5  # k-gram hashes per winnowing window


@register(
    "winnowing_fingerprint_census",
    "Winnowing fingerprint census (the MOSS plagiarism-detector "
    "selection scheme, Schleimer et al. 2003): per document, hash "
    f"every {_WN_K}-token gram (portable 60-bit md5 integer), slide "
    f"a {_WN_W}-hash window and keep each window's MINIMUM — the "
    "guarantee that any shared run of >= k+w-1 tokens shares a "
    "selected fingerprint, at ~1/w the density of the full gram set "
    "— then census fingerprints shared across >= 2 documents (top-20 "
    "by document spread). The selection-scheme upgrade of "
    "doc_fingerprint_rolling (one hash per doc) and the positional "
    "complement of dedup_ngram_jaccard (sets). The gram hashing AND "
    "the sliding window-min both run as per-document ARRAY ops inside "
    "one narrow projection (hash array lambda-bound via transform so "
    "it evaluates once per doc, not once per window — projection "
    "collapse would otherwise make it quadratic), so only SELECTED "
    "fingerprints (~1/w of grams) ever become rows: zero pre-rollup "
    "shuffles at scale (the small-input repartition is local-mode "
    "parallelism hygiene only), and the single fact-scale shuffle is "
    "the fingerprint rollup. 2.5x the window-exec formulation it "
    "replaced (2.6 s vs 6.4 s at sf0.1).",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             CASE WHEN len(tk) >= {_WN_K}
                  THEN list_transform(range(1, len(tk) - {_WN_K - 2}),
                       i -> array_to_string(tk[i:i + {_WN_K - 1}], ' '))
                  ELSE [] END AS grams
      FROM t
    ),
    h AS (
      SELECT doc_id, source, i AS p,
             {_H_DUCK.format(x='grams[i]')} AS hv,
             CAST(len(grams) AS BIGINT) AS n_g
      FROM g, unnest(range(1, len(grams) + 1)) AS u(i)
    ),
    wm AS (
      SELECT doc_id, source,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS fp,
             p, n_g
      FROM h
    ),
    fps AS (
      SELECT DISTINCT doc_id, source, fp
      FROM wm WHERE p <= n_g - {_WN_W - 1}
    )
    SELECT fp AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM fps
    GROUP BY fp
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, fingerprint
    LIMIT 20
    """,
)
def q_winnowing_fingerprint_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Local-mode hygiene only: a corpus small enough to scan as fewer
    # splits than cores would serialize the (CPU-bound) hashing pass.
    # At 100 TB the parquet scan already yields >> cores splits and
    # this branch never fires — the plan stays shuffle-free until the
    # fingerprint rollup.
    cpus = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < cpus:
        base = base.repartition(cpus)
    docs = base.select("doc_id", "source", text.tokens("text").alias("tk"))
    gram_x = f"array_join(slice(tk, i, {_WN_K}), ' ')"
    hv_expr = (
        f"CASE WHEN size(tk) >= {_WN_K}"
        f" THEN transform(sequence(1, size(tk) - {_WN_K - 1}),"
        f"      i -> {sketch.MD5_INT_SQL.format(x=gram_x)})"
        f" ELSE array() END"
    )
    # transform(array(hv), ...) lambda-binds the hash array so it is
    # computed ONCE per document: referencing it as a projected column
    # would let CollapseProject inline the whole array build into every
    # window's array_min(slice(...)) — observed 245 s vs 2.6 s at sf0.1.
    # Tail windows shorter than w are excluded by the sequence bound,
    # and array_distinct replaces the exploded DISTINCT shuffle.
    sel_expr = (
        f"flatten(transform(array({hv_expr}), hv -> "
        f"CASE WHEN size(hv) >= {_WN_W}"
        f" THEN array_distinct(transform(sequence(1, size(hv) - {_WN_W - 1}),"
        f"      i -> array_min(slice(hv, i, {_WN_W}))))"
        f" ELSE array() END))"
    )
    fps = docs.select(
        "doc_id", "source", F.explode(F.expr(sel_expr)).alias("fp")
    )
    return (
        fps.groupBy(F.col("fp").alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "fingerprint")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Church-Gale term burstiness
# ---------------------------------------------------------------------------

_TB_MIN_DF = 10
_TB_MIN_CF = 50


@register(
    "term_burstiness_church_gale",
    "Church-Gale term burstiness: collection frequency over document "
    "frequency (cf*1e6 DIV df = mean within-document repetitions in "
    "ppm among documents that contain the term) — bursty terms clump "
    "where Poisson-ish terms sprinkle, the property tf-idf weighting "
    "assumes and this query MEASURES. Noise floors df >= 10, "
    "cf >= 50; top-20 by (burstiness DESC, term) total order. One "
    "explode + one token-key shuffle (cf and df from the same "
    "grouped aggregate via COUNT DISTINCT doc).",
    f"""
    WITH inst AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    s AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM inst GROUP BY term
      HAVING COUNT(*) >= {_TB_MIN_CF}
         AND COUNT(DISTINCT doc_id) >= {_TB_MIN_DF}
    )
    SELECT term, cf, df, cf * 1000000 // df AS burstiness_ppm
    FROM s
    ORDER BY burstiness_ppm DESC, term
    LIMIT 20
    """,
)
def q_term_burstiness_church_gale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    inst = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    )
    s = (
        inst.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .filter((F.col("cf") >= _TB_MIN_CF) & (F.col("df") >= _TB_MIN_DF))
    )
    return (
        s.select(
            "term",
            "cf",
            "df",
            F.expr("cf * 1000000 DIV df").alias("burstiness_ppm"),
        )
        .orderBy(F.col("burstiness_ppm").desc(), "term")
        .limit(20)
    )
