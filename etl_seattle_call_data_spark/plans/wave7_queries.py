"""Seventh-wave coverage: training-data curation classifiers and drift
metrics — a fixed-point naive-Bayes-style quality scorer, DSIR hashed
n-gram importance weights (Xie et al. 2023's data-selection recipe),
token-distribution impurity per source, split-conformal prediction
intervals, a linear-kernel MMD embedding-drift test, and the Theil-Sen
robust trend estimator.

Cross-engine rules from docs/CROSS_ENGINE.md apply throughout: no libm
(fixed-point `DIV` likelihood ratios instead of log-probabilities,
Gini impurity instead of entropy, chi-square-free MMD via exact integer
sums), decimal accumulation with the quotient+remainder double-emission
trick for >2^53 intermediates (twap pattern,
plans/behavior_queries.py:332), and exact interpolated percentiles
(rule 7) for the conformal quantile and Theil-Sen median.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators.sampling import hash_bucket
from etl_seattle_call_data_spark.operators.util import checkpoint, memo
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


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
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("t"),
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
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
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
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("t"),
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
# Theil-Sen robust trend (banded pair slopes, exact median)
# ---------------------------------------------------------------------------


@register(
    "theil_sen_daily_trend",
    "Theil-Sen robust daily-revenue trend: slope = median over pairwise "
    "slopes (r_j - r_i)/(d_j - d_i). Candidate pairs are BANDED — only "
    "day pairs 1..7 apart, generated by exploding a 7-element offset "
    "sequence into an equi-join on day number (no range join, no "
    "all-pairs: fan-out is exactly 7x the bounded daily table, which "
    "has |calendar| rows at ANY corpus size). Daily revenue sums in "
    "DECIMAL then casts once to DOUBLE (rule 1); each slope is one IEEE "
    "division of bit-identical doubles; the median is the exact "
    "interpolated percentile both engines share (rule 7).",
    """
    WITH daily AS (
      SELECT CAST(epoch_us(date_trunc('day', o_orderdate)) // 86400000000
                  AS BIGINT) AS dn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.dn AS dn_a, b.dn AS dn_b,
             (b.rev - a.rev) / CAST(b.dn - a.dn AS DOUBLE) AS slope
      FROM daily a
      CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
      JOIN daily b ON b.dn = a.dn + k.k
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope, 0.5) AS slope_median
    FROM pairs
    """,
)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.unix_micros(F.date_trunc("day", "o_orderdate")) / F.lit(86400000000))
        .cast("bigint")
        .alias("dn")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev"))
    offs = spark.range(1, 8).select(F.col("id").alias("k"))
    a = daily.alias("a").crossJoin(F.broadcast(offs))
    pairs = a.join(
        daily.alias("b"),
        F.col("b.dn") == F.col("a.dn") + F.col("k"),
    ).select(
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.dn") - F.col("a.dn")).cast("double")).alias(
            "slope"
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("slope_median"),
    ).crossJoin(F.broadcast(n_days)).select("n_days", "n_pairs", "slope_median")


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------


@register(
    "conformal_interval_coverage",
    "Split-conformal prediction: a deterministic hash split (md5 "
    "bucket < 50, the engine-portable seedless sampler) carves a "
    "calibration set; the point model is the per-event-type calibration "
    "mean (decimal sum, one division); the conformal radius q_hat is "
    "the 0.9 DISCRETE percentile (order statistic) of absolute "
    "calibration residuals — the finite-sample-correct conformal "
    "quantile, and immune to rule 7's 1-ulp interpolation caveat that "
    "flips boundary rows at scale; coverage = fraction of TEST rows "
    "whose absolute residual <= q_hat. Per-type stats are one grouped agg "
    "each; the 5-row model table broadcasts onto the test scan — two "
    "fact passes total, no global sort.",
    """
    WITH split AS (
      SELECT event_type, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 < 50 AS is_cal
      FROM events
    ),
    model AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_cal,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu
      FROM split WHERE is_cal GROUP BY event_type
    ),
    qhat AS (
      SELECT s.event_type,
             quantile_disc(abs(s.value - m.mu), 0.9) AS q_hat
      FROM split s JOIN model m ON m.event_type = s.event_type
      WHERE s.is_cal
      GROUP BY s.event_type
    )
    SELECT s.event_type, m.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           m.mu, q.q_hat,
           CAST(SUM(CASE WHEN abs(s.value - m.mu) <= q.q_hat
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN abs(s.value - m.mu) <= q.q_hat
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS coverage
    FROM split s
    JOIN model m ON m.event_type = s.event_type
    JOIN qhat q ON q.event_type = s.event_type
    WHERE NOT s.is_cal
    GROUP BY s.event_type, m.n_cal, m.mu, q.q_hat
    """,
)
def q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = ev.select(
        "event_type",
        "value",
        (hash_bucket(F.col("event_id"), 100) < 50).alias("is_cal"),
    )
    cal = split.filter("is_cal")
    model = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
    )
    qhat = (
        cal.join(F.broadcast(model), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY abs(value - mu))"
            ).alias("q_hat")
        )
    )
    test = split.filter(~F.col("is_cal"))
    covered = F.sum(
        F.when(F.abs(F.col("value") - F.col("mu")) <= F.col("q_hat"), 1).otherwise(0)
    ).cast("bigint")
    return (
        test.join(F.broadcast(model), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "mu", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            covered.alias("n_covered"),
            (
                F.sum(
                    F.when(
                        F.abs(F.col("value") - F.col("mu")) <= F.col("q_hat"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("coverage"),
        )
        .select(
            "event_type", "n_cal", "n_test", "mu", "q_hat", "n_covered", "coverage"
        )
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
# Directed containment dedup (subset duplicates)
# ---------------------------------------------------------------------------


def _duck_containment(max_df: int) -> str:
    """Directed-containment oracle mirroring operators/dedup.py::
    containment_pairs: the shared df-capped jaccard CTE chain
    (sh/sizes/inter from docs_queries._duck_jaccard), then both
    directions of containment = ni / |contained|."""
    from etl_seattle_call_data_spark.plans.docs_queries import _duck_jaccard

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
    from etl_seattle_call_data_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.8, max_df=100)


# ---------------------------------------------------------------------------
# Mann-Whitney U via the grouped two-phase prefix-sum machinery
# ---------------------------------------------------------------------------


@register(
    "mann_whitney_u_segments",
    "Exact Mann-Whitney U (with tie-averaged ranks) comparing order "
    "totals of BUILDING vs MACHINERY customers — the nonparametric "
    "distribution-shift test. All-integer trick: average ranks are "
    "half-integers, so everything carries x2: avgrank2(v) = "
    "2*cum_before(v) + n_v + 1 over the DISTINCT-value table, and "
    "U1x2 = sum(n1_v * avgrank2) - n1*(n1+1). The global prefix sum "
    "over distinct values uses two_phase_cumsum_in_groups "
    "(operators/ranking.py) with a price-band coarse bucket — no "
    "single-partition window over row-scale data. U1x2 + U2x2 = "
    "2*n1*n2 exactly; auc_ppm = U1*1e6/(n1*n2) needs < 2^63, fine "
    "through ~3e6 rows per side (docstring contract).",
    """
    WITH seg AS (
      SELECT o_totalprice AS v,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    vals AS (
      SELECT v, CAST(SUM(g1) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(g1) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seg GROUP BY v
    ),
    ranked AS (
      SELECT v, n1, n2, n,
             CAST(2 * COALESCE(SUM(n) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n + 1 AS BIGINT) AS avgrank2
      FROM vals
    ),
    agg AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS n1_tot,
             CAST(SUM(n2) AS BIGINT) AS n2_tot,
             CAST(SUM(n1 * avgrank2) AS BIGINT) AS ranksum2_1
      FROM ranked
    )
    SELECT n1_tot, n2_tot,
           CAST(ranksum2_1 - n1_tot * (n1_tot + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1_tot * n2_tot
                - (ranksum2_1 - n1_tot * (n1_tot + 1)) AS BIGINT) AS u2_x2,
           CAST((ranksum2_1 - n1_tot * (n1_tot + 1)) * 1000000
                // (2 * n1_tot * n2_tot) AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def q_mann_whitney_u_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import (
        two_phase_cumsum_in_groups,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g1"),
        )
    )
    vals = seg.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g1")).cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ranked = two_phase_cumsum_in_groups(
        vals,
        group_cols=[],
        order_by=["v"],
        coarse=F.expr("CAST(floor(v) AS BIGINT) DIV 10000"),
        weight=F.col("n"),
        cum_name="cum_incl",
    ).withColumn(
        "avgrank2",
        (2 * (F.col("cum_incl") - F.col("n")) + F.col("n") + 1).cast("bigint"),
    )
    return ranked.agg(
        F.sum("n1").cast("bigint").alias("n1_tot"),
        F.sum("n2").cast("bigint").alias("n2_tot"),
        F.sum(F.col("n1") * F.col("avgrank2")).cast("bigint").alias("ranksum2_1"),
    ).selectExpr(
        "n1_tot",
        "n2_tot",
        "CAST(ranksum2_1 - n1_tot * (n1_tot + 1) AS BIGINT) AS u1_x2",
        "CAST(2 * n1_tot * n2_tot - (ranksum2_1 - n1_tot * (n1_tot + 1)) AS BIGINT)"
        " AS u2_x2",
        "CAST((ranksum2_1 - n1_tot * (n1_tot + 1)) * 1000000"
        " DIV (2 * n1_tot * n2_tot) AS BIGINT) AS auc_ppm",
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
    from etl_seattle_call_data_spark.plans.shared import memo_copurchase_edges

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
    "distinct (customer, part) edge list; the 1-row max broadcasts. "
    "Top 20 authorities, deterministic tiebreak.",
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
        o = load_table(spark, sf_dir, "orders")
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
    a2 = checkpoint(
        edges.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h").cast("bigint").alias("a"))
        # r11: a2 feeds TWO consumers (the 1-row max branch and the final
        # projection) — un-materialized, the whole two-iteration join
        # pipeline executes twice (the multi-consumer rule). The
        # checkpoint runs it once; both branches read the ~|parts|
        # materialized rows.
    )
    mx = a2.agg(F.max("a").cast("bigint").alias("m"))
    return (
        a2.crossJoin(F.broadcast(mx))
        .selectExpr(
            "p AS part_key",
            "a AS authority",
            "CAST(a * 1000000 DIV m AS BIGINT) AS authority_ppm",
        )
        .orderBy(F.desc("authority"), "part_key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Histogram-based decision-stump split finding (LightGBM-style)
# ---------------------------------------------------------------------------


@register(
    "histogram_split_finding",
    "Histogram-based best-split search (the LightGBM/XGBoost-hist "
    "pattern): bin order totals into fixed 2000-wide buckets "
    "(CAST(floor(v) AS BIGINT) DIV 2000 — rule 31's engine-safe double "
    "bucketizer; bin count tracks the fixed price RANGE, not row "
    "count), build per-bin (n, n_urgent) with one grouped agg, prefix-"
    "sum over the BOUNDED bin table, and score every boundary by "
    "weighted Gini impurity. The Gini expression is a fixed tree of "
    "exact-int-to-double conversions and IEEE ops — bit-identical "
    "across engines without fixed point. One fact shuffle total; the "
    "split scan is histogram-sized. Output: the best split.",
    """
    WITH binned AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) // 2000 AS bin,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    hist AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS npos
      FROM binned GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(npos) OVER w AS BIGINT) AS pl,
             CAST(SUM(n) OVER () AS BIGINT) AS nt,
             CAST(SUM(npos) OVER () AS BIGINT) AS pt
      FROM hist
      WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    scored AS (
      SELECT bin, nl, nt - nl AS nr, pl, pt - pl AS pr,
             (CAST(nl AS DOUBLE)
                * (1.0 - (CAST(pl * pl AS DOUBLE)
                          + CAST((nl - pl) * (nl - pl) AS DOUBLE))
                         / CAST(nl * nl AS DOUBLE))
              + CAST(nt - nl AS DOUBLE)
                * (1.0 - (CAST((pt - pl) * (pt - pl) AS DOUBLE)
                          + CAST(((nt - nl) - (pt - pl))
                                 * ((nt - nl) - (pt - pl)) AS DOUBLE))
                         / CAST((nt - nl) * (nt - nl) AS DOUBLE)))
             / CAST(nt AS DOUBLE) AS gini
      FROM cum
      WHERE nl > 0 AND nt - nl > 0
    )
    SELECT CAST(bin AS BIGINT) AS split_bin,
           CAST((bin + 1) * 2000 AS BIGINT) AS split_value,
           nl AS n_left, nr AS n_right, pl AS pos_left, pr AS pos_right,
           gini AS weighted_gini
    FROM scored
    ORDER BY gini, bin
    LIMIT 1
    """,
)
def q_histogram_split_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.expr("CAST(floor(o_totalprice) AS BIGINT) DIV 2000").alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("pos"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    # windows over `hist` are histogram-sized (bounded by the fixed price
    # range / 2000, ~300 rows at any SF) — the documented bounded-window
    # class, not a row-scale sort
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "bin",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("npos").over(w).cast("bigint").alias("pl"),
        F.sum("n").over(wall).cast("bigint").alias("nt"),
        F.sum("npos").over(wall).cast("bigint").alias("pt"),
    )
    scored = cum.filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)).selectExpr(
        "bin",
        "nl",
        "nt - nl AS nr",
        "pl",
        "pt - pl AS pr",
        """
        (CAST(nl AS DOUBLE)
           * (1.0 - (CAST(pl * pl AS DOUBLE)
                     + CAST((nl - pl) * (nl - pl) AS DOUBLE))
                    / CAST(nl * nl AS DOUBLE))
         + CAST(nt - nl AS DOUBLE)
           * (1.0 - (CAST((pt - pl) * (pt - pl) AS DOUBLE)
                     + CAST(((nt - nl) - (pt - pl))
                            * ((nt - nl) - (pt - pl)) AS DOUBLE))
                    / CAST((nt - nl) * (nt - nl) AS DOUBLE)))
        / CAST(nt AS DOUBLE) AS gini
        """,
    )
    return (
        scored.selectExpr(
            "CAST(bin AS BIGINT) AS split_bin",
            "CAST((bin + 1) * 2000 AS BIGINT) AS split_value",
            "nl AS n_left",
            "nr AS n_right",
            "pl AS pos_left",
            "pr AS pos_right",
            "gini AS weighted_gini",
        )
        .orderBy("weighted_gini", "split_bin")
        .limit(1)
    )


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
    from etl_seattle_call_data_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("t")
        )
        .select(F.lower("t").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f")).select(
        text.bpe_canonical("w").alias("seq"), "f"
    )

    def bpe_round(v: DataFrame) -> tuple[DataFrame, DataFrame]:
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

    # Each round consumes its input vocabulary from TWO branches (the
    # pair-count/top-1 derivation and the merge application), so an
    # un-materialized chain re-evaluates the corpus-size vocab aggregate
    # 2^round times — 7 words-explode passes for 3 rounds (measured as
    # 8 BNLJ nodes / 28 Exchanges in the r10 before-plan). The frames
    # are vocab-bounded, exactly the expensive-subtree class CLAUDE.md's
    # materialization rule targets: one checkpoint per round
    # makes every vocabulary exactly once-evaluated (r10: 1.53s -> ~0.9s
    # at sf0.1, 28 -> 8 Exchanges).
    t1, v1 = bpe_round(checkpoint(vocab))
    t2, v2 = bpe_round(checkpoint(v1))
    t3, v3 = bpe_round(checkpoint(v2))
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
