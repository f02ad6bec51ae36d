"""Twelfth-wave coverage: text mining (RAKE keyphrases), tokenizer
fertility by source, weekly churn, grouped discount elasticity, and
SCD2 point-in-time dimension lookup.

docs/CROSS_ENGINE.md rules apply: rule 24 tokenization, rule 21
ordered sequences, rule 32 two-level windows, the quotient+remainder
split for exact integers past 2^53, and sentinel dates (rule 13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.operators.util import checkpoint
from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.plans.wave10_queries import (
    _SPLIT_DUCK,
    _SPLIT_SPARK,
    _split_double,
)
from etl_seattle_call_data_spark.sources.registry import load_table


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
    from etl_seattle_call_data_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
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


# ---------------------------------------------------------------------------
# Tokenizer fertility by source (after 3 BPE merges)
# ---------------------------------------------------------------------------


from etl_seattle_call_data_spark.plans.wave7_queries import _bpe_round_sql  # noqa: E402

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
    from etl_seattle_call_data_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    words_src = (
        docs.select(
            "source",
            F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("t"),
        )
        .select("source", F.lower("t").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    vocab = (
        words_src.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .select(text.bpe_canonical("w").alias("seq"), "f")
    )

    def bpe_round(v: DataFrame) -> DataFrame:
        t = text.bpe_tokens("seq")
        pairs = (
            v.select(t.alias("t"), "f")
            .filter(F.size("t") >= 2)
            .select(F.explode(text.bpe_adjacent_pairs(F.col("t"))).alias("bg"), "f")
            .groupBy("bg")
            .agg(F.sum("f").cast("bigint").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "bg").limit(1)
        return v.crossJoin(F.broadcast(top)).select(
            text.bpe_apply_merge("seq", F.col("bg")).alias("seq"), "f"
        )

    # Same two-consumer-per-round shape as bpe_merge_rounds: without a
    # barrier each round re-evaluates its input vocabulary once per
    # branch (2^rounds words-explode passes; 14 BNLJ nodes in the r10
    # before-plan). Vocab-bounded frames — one checkpoint per
    # round per the CLAUDE.md materialization rule.
    v3 = bpe_round(checkpoint(bpe_round(checkpoint(bpe_round(checkpoint(vocab))))))
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
# Weekly churn rates
# ---------------------------------------------------------------------------


@register(
    "weekly_churn_rates",
    "Weekly churn: users active in absolute week W (epoch-day DIV 7 — "
    "calendar-system-free, engine-identical) who have no activity in "
    "week W+1, as count and ppm rate per week — retention's "
    "complement and the top-line health metric of any subscription "
    "funnel. Distinct (user, week) pairs once (one shuffle), then a "
    "self left-join shifted by one week; the final week is excluded "
    "(its churn is right-censored — the survival-analysis caveat "
    "made explicit rather than reported as fake 100%% churn).",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS week
      FROM events
    ),
    maxw AS (SELECT MAX(week) AS max_week FROM uw),
    j AS (
      SELECT a.week, a.user_id,
             CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
      FROM uw a
      LEFT JOIN uw b ON b.user_id = a.user_id AND b.week = a.week + 1
    )
    SELECT j.week,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(churned) AS BIGINT) AS n_churned,
           CAST(SUM(churned) * 1000000 // COUNT(*) AS BIGINT) AS churn_ppm
    FROM j CROSS JOIN maxw m
    WHERE j.week < m.max_week
    GROUP BY j.week
    """,
)
def q_weekly_churn_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.expr("unix_micros(ts) DIV 604800000000").alias("week")
    ).distinct()
    maxw = uw.agg(F.max("week").alias("max_week"))
    b = uw.select(F.col("user_id").alias("user_id"), (F.col("week") - 1).alias("week"))
    j = uw.join(
        b.withColumn("next_active", F.lit(1)).distinct(), ["user_id", "week"], "left"
    ).select(
        "week",
        F.when(F.col("next_active").isNull(), 1).otherwise(0).alias("churned"),
    )
    return (
        j.crossJoin(F.broadcast(maxw))
        .filter(F.col("week") < F.col("max_week"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum("churned").cast("bigint").alias("n_churned"),
            F.expr("CAST(SUM(churned) * 1000000 DIV COUNT(*) AS BIGINT)").alias(
                "churn_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Grouped discount elasticity (per-brand correlation)
# ---------------------------------------------------------------------------


@register(
    "discount_elasticity_by_brand",
    "Discount sensitivity per brand: Pearson correlation between the "
    "line discount and the quantity purchased, computed per brand "
    "from exact integer centi-scaled moments — the grouped "
    "correlation operator (the global corr matrix's per-segment "
    "companion) and a first-order elasticity screen. Per-row products "
    "are < 2^30; per-brand sums stay BIGINT, but the n*Sxy - Sx*Sy "
    "combinations cross 2^53 at large SF, so they form in "
    "DECIMAL(38,0)/HUGEINT and reach DOUBLE via the quotient+"
    "remainder split before the single corr expression tree. One "
    "fact-dim join (AQE-sized) + one 25-row aggregate.",
    f"""
    WITH x AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_discount * 100) AS BIGINT) AS d,
             CAST(round(l.l_quantity * 100) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    mom AS (
      SELECT brand,
             COUNT(*) AS n,
             SUM(d) AS sd, SUM(q) AS sq,
             SUM(d * q) AS sdq, SUM(d * d) AS sdd, SUM(q * q) AS sqq
      FROM x GROUP BY brand
    ),
    c AS (
      SELECT brand, n,
             n * sdq - sd * sq AS covnum,
             n * sdd - sd * sd AS vdnum,
             n * sqq - sq * sq AS vqnum
      FROM mom
    ),
    s AS (
      SELECT brand, n,
             {_split_double('covnum').format(**_SPLIT_DUCK)} AS covd,
             {_split_double('vdnum').format(**_SPLIT_DUCK)} AS vdd,
             {_split_double('vqnum').format(**_SPLIT_DUCK)} AS vqd
      FROM c
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           CASE WHEN vdd = 0.0 OR vqd = 0.0 THEN 0.0
                ELSE covd / sqrt(vdd * vqd) END AS discount_qty_corr
    FROM s
    """,
)
def q_discount_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("q"),
    )
    mom = x.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sd"),
        F.sum("q").alias("sq"),
        F.sum(F.col("d") * F.col("q")).alias("sdq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = mom.select(
        "brand",
        "n",
        (dec(F.col("n")) * dec(F.col("sdq")) - dec(F.col("sd")) * dec(F.col("sq"))).alias(
            "covnum"
        ),
        (dec(F.col("n")) * dec(F.col("sdd")) - dec(F.col("sd")) * dec(F.col("sd"))).alias(
            "vdnum"
        ),
        (dec(F.col("n")) * dec(F.col("sqq")) - dec(F.col("sq")) * dec(F.col("sq"))).alias(
            "vqnum"
        ),
    )
    s = c.select(
        "brand",
        "n",
        F.expr(_split_double("covnum").format(**_SPLIT_SPARK)).alias("covd"),
        F.expr(_split_double("vdnum").format(**_SPLIT_SPARK)).alias("vdd"),
        F.expr(_split_double("vqnum").format(**_SPLIT_SPARK)).alias("vqd"),
    )
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_lines"),
        F.when((F.col("vdd") == 0.0) | (F.col("vqd") == 0.0), F.lit(0.0))
        .otherwise(F.col("covd") / F.sqrt(F.col("vdd") * F.col("vqd")))
        .alias("discount_qty_corr"),
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time dimension lookup
# ---------------------------------------------------------------------------


@register(
    "scd2_point_in_time",
    "Point-in-time lookup against the SCD2 history: each customer's "
    "order-priority regimes become validity intervals [start, "
    "next_start) via lead() over the per-customer order sequence "
    "(island compression of equal-priority runs; the open interval "
    "carries the 9999-12-31 sentinel, rule 13), and the AS OF probe "
    "at 1999-06-15 selects the regime active then — the time-travel "
    "dimension join every SCD2 warehouse serves. Intervals live as "
    "epoch days (integer; no DATE canonicalization drift); the probe "
    "is a range filter on the interval table, not a join (one "
    "interval matches by construction). Output: active-priority "
    "census at the probe date.",
    """
    WITH o AS (
      SELECT o_custkey AS custkey, o_orderpriority AS prio,
             epoch_us(o_orderdate) // 86400000000 AS dnum,
             o_orderkey
      FROM orders
    ),
    marked AS (
      SELECT *,
             CASE WHEN prio = lag(prio) OVER (PARTITION BY custkey
                                              ORDER BY dnum, o_orderkey)
                  THEN 0 ELSE 1 END AS is_new
      FROM o
    ),
    runs AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY custkey ORDER BY dnum, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_id
      FROM marked
    ),
    intervals AS (
      SELECT custkey, prio, MIN(dnum) AS start_day,
             MIN(o_orderkey) AS first_ok
      FROM runs GROUP BY custkey, prio, run_id
    ),
    bounded AS (
      SELECT custkey, prio, start_day,
             COALESCE(lead(start_day) OVER (PARTITION BY custkey
                                            ORDER BY start_day, first_ok),
                      2932896) AS end_day
      FROM intervals
    ),
    active AS (
      SELECT custkey, prio
      FROM bounded
      WHERE start_day <= 10757 AND 10757 < end_day
    )
    SELECT prio AS active_priority,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) * 1000000
                // SUM(COUNT(*)) OVER () AS BIGINT) AS share_ppm
    FROM active
    GROUP BY prio
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("prio"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("dnum"),
        "o_orderkey",
    )
    wc = Window.partitionBy("custkey").orderBy("dnum", "o_orderkey")
    marked = o.withColumn(
        "is_new",
        F.when(F.col("prio") == F.lag("prio").over(wc), 0).otherwise(1),
    )
    runs = marked.withColumn(
        "run_id", F.sum("is_new").over(wc.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = runs.groupBy("custkey", "prio", "run_id").agg(
        F.min("dnum").alias("start_day"),
        # same-day regime changes tie on start_day: break by the run's
        # first order key so the interval chain is a total order
        F.min("o_orderkey").alias("first_ok"),
    )
    # 2932896 = epoch day of the 9999-12-31 sentinel (rule 13)
    bounded = intervals.withColumn(
        "end_day",
        F.coalesce(
            F.lead("start_day").over(
                Window.partitionBy("custkey").orderBy("start_day", "first_ok")
            ),
            F.lit(2932896),
        ),
    )
    # probe day 10757 = 1999-06-15
    active = bounded.filter(
        (F.col("start_day") <= 10757) & (F.lit(10757) < F.col("end_day"))
    ).select("custkey", "prio")
    counts = active.groupBy(F.col("prio").alias("active_priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return counts.select(
        "active_priority",
        "n_customers",
        F.expr(
            "CAST(n_customers * 1000000 DIV SUM(n_customers) OVER () AS BIGINT)"
        ).alias("share_ppm"),
    )
