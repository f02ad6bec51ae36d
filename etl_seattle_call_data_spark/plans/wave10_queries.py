"""Tenth-wave coverage: experimentation & causal analytics, search
ranking metrics, incremental join-view maintenance, leakage-safe
dataset splits, negative sampling, and the remaining web/behavioral
analytics gaps (Pareto concentration, lagged cross-correlation,
position-based attribution, candidate-key profiling, session
entry/exit rates).

Cross-engine rules from docs/CROSS_ENGINE.md apply throughout: exact
integer/DECIMAL accumulation with stated magnitude bounds, the
quotient+remainder split when an exact integer > 2^53 must become a
DOUBLE (rule of wave-6 feature scaling), truncating `DIV`/`//`
equivalence incl. negatives (rule 25), portable md5 bucket hashing,
and identical IEEE expression trees for every emitted double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_seattle_call_data_spark.plans.queries import register
from etl_seattle_call_data_spark.sources.registry import load_table


def _hash_mod(col: Column, buckets: int) -> Column:
    """Portable md5-prefix hash bucket (operators/sampling.hash_bucket
    semantics, inlined so the modulus can vary per call)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")
    return h % buckets


def _split_double(col_name: str) -> str:
    """SQL fragment turning an exact integral column (DECIMAL/HUGEINT,
    possibly > 2^53) into the correctly-rounded DOUBLE via the
    quotient+remainder split: both parts are < 2^53 so their casts are
    exact, the 2^26 rescale is a power of two (exact), and the single
    final addition rounds once — identically on both engines. Uses the
    engine-portable truncating division (Spark `DIV` ≡ DuckDB `//`,
    rule 25), consistent with `%` for negative inputs."""
    return (
        f"(CAST({col_name} {{div}} 67108864 AS DOUBLE) * 67108864.0"
        f" + CAST({col_name} % 67108864 AS DOUBLE))"
    )


_SPLIT_SPARK = {"div": "DIV"}
_SPLIT_DUCK = {"div": "//"}


def _sp(expr: str) -> str:
    return _split_double(expr).format(**_SPLIT_SPARK)


def _du(expr: str) -> str:
    return _split_double(expr).format(**_SPLIT_DUCK)


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------

_CUPED_DOC = (
    "CUPED variance-reduced A/B readout (Deng et al. 2013): users are "
    "deterministically hash-assigned to two arms, the experiment metric "
    "Y is each user's post-period event value (integer cents) and the "
    "covariate X is the same user's PRE-period value; "
    "theta = cov(X,Y)/var(X) over all users, and each arm reports its "
    "naive mean alongside the CUPED-adjusted mean "
    "mean(Y_a) - theta*(mean(X_a) - mean(X)). Everything up to the "
    "final doubles is exact: per-user sums are BIGINT cents, the "
    "moment products accumulate in DECIMAL(38,0)/HUGEINT (x,y < 2^23 "
    "cents per user so x*y < 2^46 per row; the n*Sxy - Sx*Sy "
    "combination is bounded by n^2 * max(xy) — exact integers), and "
    "integers > 2^53 reach DOUBLE via the quotient+remainder split. "
    "ONE fact pass: user sums -> 2-row arm partials; the global "
    "moments are window-TOTALS of the arm partials (the mergeability "
    "of moment sketches doing real work — no second scan). The "
    "variance-reduction column is 1 - corr(X,Y)^2, the theoretical "
    "CUPED gain, as one fixed IEEE tree. Scale: the only shuffles are "
    "the per-user groupBy and a 2-row aggregate; at 100 TB the user "
    "aggregate is the same single map-side-combined pass."
)

_CUPED_ORACLE = f"""
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm,
             COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0) AS x,
             COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                     THEN CAST(round(value * 100) AS BIGINT) END), 0) AS y
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT arm,
             COUNT(*) AS n_a,
             SUM(x) AS sx_a, SUM(y) AS sy_a,
             SUM(x * y) AS sxy_a, SUM(x * x) AS sxx_a, SUM(y * y) AS syy_a
      FROM u GROUP BY arm
    ),
    g AS (
      SELECT arm, n_a, sx_a, sy_a,
             SUM(n_a) OVER () AS n, SUM(sx_a) OVER () AS sx,
             SUM(sy_a) OVER () AS sy, SUM(sxy_a) OVER () AS sxy,
             SUM(sxx_a) OVER () AS sxx, SUM(syy_a) OVER () AS syy
      FROM a
    ),
    m AS (
      SELECT arm, n_a, sx_a, sy_a, n, sx, sy,
             n * sxy - sx * sy AS covnum,
             n * sxx - sx * sx AS varxnum,
             n * syy - sy * sy AS varynum
      FROM g
    ),
    d AS (
      SELECT arm, n_a, sx_a, sy_a, n, sx, sy,
             {_split_double('covnum').format(**_SPLIT_DUCK)} AS covd,
             {_split_double('varxnum').format(**_SPLIT_DUCK)} AS vxd,
             {_split_double('varynum').format(**_SPLIT_DUCK)} AS vyd
      FROM m
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(n_a AS BIGINT) AS n_users,
           CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_y,
           CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_x,
           (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            - (CASE WHEN vxd = 0.0 THEN 0.0 ELSE covd / vxd END)
              * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0
             AS adj_mean_y,
           CASE WHEN vxd = 0.0 THEN 0.0 ELSE covd / vxd END AS theta,
           CASE WHEN vxd = 0.0 OR vyd = 0.0 THEN 0.0
                ELSE covd * covd / (vxd * vyd) END AS var_reduction
    FROM d
"""


@register("cuped_adjusted_estimate", _CUPED_DOC, _CUPED_ORACLE)
def q_cuped_adjusted_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0)).alias("y"),
    ).select(
        _hash_mod(F.col("user_id"), 2).alias("arm"), "x", "y"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy_a"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx_a"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy_a"),
    )
    w = Window.partitionBy()
    g = a.select(
        "arm", "n_a", "sx_a", "sy_a",
        F.sum("n_a").over(w).alias("n"),
        F.sum("sx_a").over(w).alias("sx"),
        F.sum("sy_a").over(w).alias("sy"),
        F.sum("sxy_a").over(w).alias("sxy"),
        F.sum("sxx_a").over(w).alias("sxx"),
        F.sum("syy_a").over(w).alias("syy"),
    )
    m = g.select(
        "arm", "n_a", "sx_a", "sy_a", "n", "sx", "sy",
        (dec(F.col("n")) * F.col("sxy") - dec(F.col("sx")) * dec(F.col("sy"))).alias("covnum"),
        (dec(F.col("n")) * F.col("sxx") - dec(F.col("sx")) * dec(F.col("sx"))).alias("varxnum"),
        (dec(F.col("n")) * F.col("syy") - dec(F.col("sy")) * dec(F.col("sy"))).alias("varynum"),
    )
    d = m.select(
        "arm", "n_a", "sx_a", "sy_a", "n", "sx", "sy",
        F.expr(_split_double("covnum").format(**_SPLIT_SPARK)).alias("covd"),
        F.expr(_split_double("varxnum").format(**_SPLIT_SPARK)).alias("vxd"),
        F.expr(_split_double("varynum").format(**_SPLIT_SPARK)).alias("vyd"),
    )
    theta = F.when(F.col("vxd") == 0.0, F.lit(0.0)).otherwise(F.col("covd") / F.col("vxd"))
    return d.select(
        F.col("arm").cast("bigint").alias("arm"),
        F.col("n_a").cast("bigint").alias("n_users"),
        (F.col("sy_a").cast("double") / F.col("n_a").cast("double") / 100.0).alias("mean_y"),
        (F.col("sx_a").cast("double") / F.col("n_a").cast("double") / 100.0).alias("mean_x"),
        (
            (
                F.col("sy_a").cast("double") / F.col("n_a").cast("double")
                - theta
                * (
                    F.col("sx_a").cast("double") / F.col("n_a").cast("double")
                    - F.col("sx").cast("double") / F.col("n").cast("double")
                )
            )
            / 100.0
        ).alias("adj_mean_y"),
        theta.alias("theta"),
        F.when((F.col("vxd") == 0.0) | (F.col("vyd") == 0.0), F.lit(0.0))
        .otherwise(F.col("covd") * F.col("covd") / (F.col("vxd") * F.col("vyd")))
        .alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check
# ---------------------------------------------------------------------------


@register(
    "experiment_srm_check",
    "Sample-ratio-mismatch guardrail for the hash-assigned experiment: "
    "a 2-cell chi-square of the observed arm counts against the "
    "designed 50/50 split — chi2 = (nA-nB)^2 / (nA+nB), carried in "
    "micro fixed point with the squared difference accumulated in "
    "DECIMAL(38,0)/HUGEINT so the *1e6 rescale cannot overflow BIGINT "
    "at any user count. The flag trips above the 3.841 critical value "
    "(alpha=0.05, df=1). The canonical pre-analysis gate every "
    "experimentation platform runs before reading means: a broken "
    "randomizer invalidates CUPED and naive readouts alike. One "
    "distinct-user aggregate, 2-row state.",
    """
    WITH u AS (
      SELECT DISTINCT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm
      FROM events
    ),
    c AS (
      SELECT
        SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
      FROM u
    )
    SELECT CAST(na AS BIGINT) AS n_arm_a,
           CAST(nb AS BIGINT) AS n_arm_b,
           CAST((1000000::HUGEINT * (na - nb) * (na - nb)) // (na + nb)
                AS BIGINT) AS chi2_micro,
           (1000000::HUGEINT * (na - nb) * (na - nb)) // (na + nb) > 3841000
             AS srm_detected
    FROM c
    """,
)
def q_experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(_hash_mod(F.col("user_id"), 2).alias("arm"))
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb"),
    )
    chi2 = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (na - nb) * (na - nb))"
        " DIV (na + nb) AS BIGINT)"
    )
    return c.select(
        F.col("na").cast("bigint").alias("n_arm_a"),
        F.col("nb").cast("bigint").alias("n_arm_b"),
        chi2.alias("chi2_micro"),
        (chi2 > 3841000).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------


@register(
    "did_revenue_impact",
    "Difference-in-differences estimator: treatment group = customers "
    "in region ASIA, pre/post split at o_orderdate 1998-01-01; the "
    "estimand is the change in mean order value for treated customers "
    "minus the same change for controls — the canonical two-period "
    "two-group causal panel readout. The four cell means come from ONE "
    "fact pass of conditional aggregates (cents in BIGINT, exact), and "
    "the DiD is a fixed IEEE tree over the four identically-computed "
    "doubles. Joins: orders->customer shuffles on custkey (AQE-sized); "
    "nation/region are broadcast fixed-size dims. Scale: a 4-cell "
    "aggregate regardless of fact size.",
    """
    WITH o AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             (r.r_name = 'ASIA') AS treat,
             (o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') AS post
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    cells AS (
      SELECT
        SUM(CASE WHEN treat AND NOT post THEN cents ELSE 0 END) AS s_tp,
        SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS n_tp,
        SUM(CASE WHEN treat AND post THEN cents ELSE 0 END) AS s_ta,
        SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS n_ta,
        SUM(CASE WHEN NOT treat AND NOT post THEN cents ELSE 0 END) AS s_cp,
        SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS n_cp,
        SUM(CASE WHEN NOT treat AND post THEN cents ELSE 0 END) AS s_ca,
        SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS n_ca
      FROM o
    )
    SELECT CAST(n_tp AS BIGINT) AS n_treat_pre,
           CAST(n_ta AS BIGINT) AS n_treat_post,
           CAST(n_cp AS BIGINT) AS n_ctrl_pre,
           CAST(n_ca AS BIGINT) AS n_ctrl_post,
           CAST(s_tp AS DOUBLE) / NULLIF(CAST(n_tp AS DOUBLE), 0) / 100.0
             AS mean_treat_pre,
           CAST(s_ta AS DOUBLE) / NULLIF(CAST(n_ta AS DOUBLE), 0) / 100.0
             AS mean_treat_post,
           CAST(s_cp AS DOUBLE) / NULLIF(CAST(n_cp AS DOUBLE), 0) / 100.0
             AS mean_ctrl_pre,
           CAST(s_ca AS DOUBLE) / NULLIF(CAST(n_ca AS DOUBLE), 0) / 100.0
             AS mean_ctrl_post,
           (CAST(s_ta AS DOUBLE) / NULLIF(CAST(n_ta AS DOUBLE), 0)
            - CAST(s_tp AS DOUBLE) / NULLIF(CAST(n_tp AS DOUBLE), 0))
           - (CAST(s_ca AS DOUBLE) / NULLIF(CAST(n_ca AS DOUBLE), 0)
              - CAST(s_cp AS DOUBLE) / NULLIF(CAST(n_cp AS DOUBLE), 0))
             AS did_cents
    FROM cells
    """,
)
def q_did_revenue_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            (F.col("r_name") == "ASIA").alias("treat"),
            (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")).alias(
                "post"
            ),
        )
    )

    def cell(pred: Column, val: Column, name: str) -> Column:
        return F.sum(F.when(pred, val).otherwise(F.lit(0))).alias(name)

    t, p = F.col("treat"), F.col("post")
    cells = base.agg(
        cell(t & ~p, F.col("cents"), "s_tp"),
        cell(t & ~p, F.lit(1), "n_tp"),
        cell(t & p, F.col("cents"), "s_ta"),
        cell(t & p, F.lit(1), "n_ta"),
        cell(~t & ~p, F.col("cents"), "s_cp"),
        cell(~t & ~p, F.lit(1), "n_cp"),
        cell(~t & p, F.col("cents"), "s_ca"),
        cell(~t & p, F.lit(1), "n_ca"),
    )
    # NULLIF guard (rule 40): an empty cell zeroes its count
    mean = lambda s, n_: F.col(s).cast("double") / F.nullif(  # noqa: E731
        F.col(n_).cast("double"), F.lit(0.0)
    )
    return cells.select(
        F.col("n_tp").cast("bigint").alias("n_treat_pre"),
        F.col("n_ta").cast("bigint").alias("n_treat_post"),
        F.col("n_cp").cast("bigint").alias("n_ctrl_pre"),
        F.col("n_ca").cast("bigint").alias("n_ctrl_post"),
        (mean("s_tp", "n_tp") / 100.0).alias("mean_treat_pre"),
        (mean("s_ta", "n_ta") / 100.0).alias("mean_treat_post"),
        (mean("s_cp", "n_cp") / 100.0).alias("mean_ctrl_pre"),
        (mean("s_ca", "n_ca") / 100.0).alias("mean_ctrl_post"),
        (
            (mean("s_ta", "n_ta") - mean("s_tp", "n_tp"))
            - (mean("s_ca", "n_ca") - mean("s_cp", "n_cp"))
        ).alias("did_cents"),
    )


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
    from etl_seattle_call_data_spark.operators.text import canonical_text

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.md5(canonical_text(F.col("text"))).alias("fingerprint")
    )
    bucket = _hash_mod(F.col("fingerprint"), 10)
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
    from etl_seattle_call_data_spark.operators.text import canonical_text, token_count

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
        F.md5(canonical_text(F.col("text"))).alias("fingerprint"),
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
# Deterministic negative sampling for training pairs
# ---------------------------------------------------------------------------


@register(
    "negative_sampling_pairs",
    "Deterministic negative sampling for (customer, brand) training "
    "pairs: positives are the distinct purchased brands per customer; "
    "for each purchasing customer, 3 candidate brands are drawn by "
    "portable hash of (custkey, draw-index) modulo the brand count, "
    "deduplicated, and anti-joined against the positives — the "
    "contrastive-learning negative generator (word2vec/retrieval "
    "two-tower style) with no RNG: reruns and engines agree exactly. "
    "Scale: candidate fan-out is a constant 3x customers; the "
    "brand-index join is a broadcast of a bounded dim; the anti-join "
    "shuffles on (custkey, brand) — never a cross join. Output is the "
    "bounded per-brand pos/neg census.",
    """
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    brands AS (
      SELECT p_brand AS brand,
             ROW_NUMBER() OVER (ORDER BY p_brand) - 1 AS idx
      FROM (SELECT DISTINCT p_brand FROM part)
    ),
    nb AS (SELECT COUNT(*) AS n_brands FROM brands),
    custs AS (SELECT DISTINCT custkey FROM pos),
    cand AS (
      SELECT DISTINCT c.custkey, b.brand
      FROM custs c
      CROSS JOIN nb
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) draws
      JOIN brands b
        ON b.idx = ('0x' || substr(md5(CAST(c.custkey AS VARCHAR) || '#'
                                       || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                   % nb.n_brands
    ),
    neg AS (
      SELECT c.custkey, c.brand FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.custkey = c.custkey AND p.brand = c.brand)
    )
    SELECT b.brand,
           CAST(COALESCE(pc.n_pos, 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(nc.n_neg, 0) AS BIGINT) AS n_neg
    FROM brands b
    LEFT JOIN (SELECT brand, COUNT(*) AS n_pos FROM pos GROUP BY brand) pc
      ON pc.brand = b.brand
    LEFT JOIN (SELECT brand, COUNT(*) AS n_neg FROM neg GROUP BY brand) nc
      ON nc.brand = b.brand
    """,
)
def q_negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    brands = (
        p.select("p_brand")
        .distinct()
        .select(
            F.col("p_brand").alias("brand"),
            (F.row_number().over(Window.orderBy("p_brand")) - 1).alias("idx"),
        )
    )
    nb = brands.agg(F.count(F.lit(1)).alias("n_brands"))
    custs = pos.select("custkey").distinct()
    # portable hash mod data-dependent brand count (column modulus)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("custkey").cast("string"), F.lit("#"), F.col("j").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        custs.crossJoin(F.broadcast(nb))
        .select("custkey", "n_brands", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"))
        .select("custkey", (h % F.col("n_brands")).alias("cand_idx"))
        .join(F.broadcast(brands), F.col("cand_idx") == F.col("idx"))
        .select("custkey", "brand")
        .distinct()
    )
    neg = cand.join(pos, ["custkey", "brand"], "left_anti")
    pc = pos.groupBy("brand").agg(F.count(F.lit(1)).alias("n_pos"))
    nc = neg.groupBy("brand").agg(F.count(F.lit(1)).alias("n_neg"))
    return (
        brands.select("brand")
        .join(pc, "brand", "left")
        .join(nc, "brand", "left")
        .select(
            "brand",
            F.coalesce(F.col("n_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
            F.coalesce(F.col("n_neg"), F.lit(0)).cast("bigint").alias("n_neg"),
        )
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

from etl_seattle_call_data_spark.plans.docs_queries import (  # noqa: E402
    _DUCK_COS,
    _DUCK_Q,
    _lsh_bucket_sql,
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
    from etl_seattle_call_data_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, qset, k=5).select(
        "query_id", "neighbor_id", F.col("rank").alias("truth_rank")
    )
    retr = similarity.lsh_topk(emb, qset, k=5, num_planes=8).select(
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
# Incremental join-view maintenance proof
# ---------------------------------------------------------------------------


@register(
    "incremental_mv_join_delta",
    "Incremental maintenance of a JOIN view, verified in-query: the "
    "view V = revenue per nation over lineitem JOIN orders JOIN "
    "customer. With the dimension side unchanged and an insert-only "
    "fact delta (orders on/after 2001-01-01), the IVM algebra says "
    "V_new = V_old + delta(orders) JOIN customer — the classical "
    "delta-rule specialization (dA JOIN B when dB is empty). Both the "
    "full recompute and the incremental form are computed (DECIMAL-"
    "exact) and compared cell-for-cell BEFORE the final double cast, "
    "so `matches` is an exact-equality claim the hash gate re-checks, "
    "not a tolerance. This is the agg-MV companion's join-view "
    "generalization: at 100 TB the delta arm only scans the delta "
    "partition (partition-pruned date predicate), never the base "
    "fact.",
    """
    WITH rev AS (
      SELECT o.o_orderkey, o.o_orderdate, c.c_nationkey AS nationkey,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    full_v AS (
      SELECT nationkey, SUM(r) AS rev_full FROM rev GROUP BY nationkey
    ),
    old_v AS (
      SELECT nationkey, SUM(r) AS rev_old FROM rev
      WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
      GROUP BY nationkey
    ),
    delta_v AS (
      SELECT nationkey, SUM(r) AS rev_delta FROM rev
      WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
      GROUP BY nationkey
    ),
    inc AS (
      SELECT COALESCE(o.nationkey, d.nationkey) AS nationkey,
             COALESCE(o.rev_old, 0) + COALESCE(d.rev_delta, 0) AS rev_inc
      FROM old_v o FULL JOIN delta_v d ON d.nationkey = o.nationkey
    )
    SELECT n.n_name AS nation,
           CAST(f.rev_full AS DOUBLE) AS revenue_full,
           CAST(i.rev_inc AS DOUBLE) AS revenue_incremental,
           f.rev_full = i.rev_inc AS matches
    FROM full_v f
    JOIN inc i ON i.nationkey = f.nationkey
    JOIN nation n ON n.n_nationkey = f.nationkey
    """,
)
def q_incremental_mv_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cut = F.lit("2001-01-01 00:00:00").cast("timestamp")
    r = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("o_orderdate"), F.col("c_nationkey").alias("nationkey"), r.alias("r")
        )
    )
    full_v = rev.groupBy("nationkey").agg(F.sum("r").alias("rev_full"))
    old_v = (
        rev.filter(F.col("o_orderdate") < cut)
        .groupBy("nationkey")
        .agg(F.sum("r").alias("rev_old"))
    )
    delta_v = (
        rev.filter(F.col("o_orderdate") >= cut)
        .groupBy("nationkey")
        .agg(F.sum("r").alias("rev_delta"))
    )
    inc = (
        old_v.join(delta_v, "nationkey", "full")
        .select(
            "nationkey",
            (
                F.coalesce(F.col("rev_old"), F.lit(0))
                + F.coalesce(F.col("rev_delta"), F.lit(0))
            ).alias("rev_inc"),
        )
    )
    return (
        full_v.join(inc, "nationkey")
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("rev_full").cast("double").alias("revenue_full"),
            F.col("rev_inc").cast("double").alias("revenue_incremental"),
            (F.col("rev_full") == F.col("rev_inc")).alias("matches"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto 80/20 revenue concentration per nation
# ---------------------------------------------------------------------------


@register(
    "pareto_8020_analysis",
    "Pareto concentration per nation: the minimum number of customers "
    "whose (descending) revenue prefix covers 80%% of the nation's "
    "total, plus that prefix's exact share in ppm — the 80/20 readout "
    "behind key-account planning, computed on exact integer cents with "
    "the 5*cum >= 4*total crossing test (no float thresholds). The "
    "running sum uses operators/ranking.two_phase_cumsum_in_groups: "
    "per-(nation, revenue-bucket) partials roll into prefix offsets "
    "over the bounded bucket table, so no nation is sorted through a "
    "single task — the same plan shape at 25 nations x 10^9 customers. "
    "Totals join back as a broadcast 25-row aggregate.",
    """
    WITH cust AS (
      SELECT n.n_name AS nation, o.o_custkey AS custkey,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS revcents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, o.o_custkey
    ),
    cum AS (
      SELECT nation, custkey, revcents,
             SUM(revcents) OVER (PARTITION BY nation
                                 ORDER BY revcents DESC, custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumcents
      FROM cust
    ),
    tot AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(revcents) AS total_cents
      FROM cust GROUP BY nation
    )
    SELECT t.nation, t.n_customers,
           CAST(t.total_cents AS DOUBLE) / 100.0 AS total_revenue,
           CAST(1 + COALESCE(SUM(CASE WHEN 5 * c.cumcents < 4 * t.total_cents
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS k_for_80,
           CAST((MIN(CASE WHEN 5 * c.cumcents >= 4 * t.total_cents
                          THEN c.cumcents END) * 1000000) // t.total_cents
                AS BIGINT) AS topk_share_ppm
    FROM tot t JOIN cum c ON c.nation = t.nation
    GROUP BY t.nation, t.n_customers, t.total_cents
    """,
)
def q_pareto_8020_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_seattle_call_data_spark.operators.ranking import two_phase_cumsum_in_groups

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("custkey"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("revcents"))
        .withColumn("negrev", -F.col("revcents"))
    )
    cum = two_phase_cumsum_in_groups(
        cust,
        group_cols=["nation"],
        order_by=["negrev", "custkey"],
        coarse=F.expr("negrev DIV 10000000"),
        weight=F.col("revcents"),
        cum_name="cumcents",
    )
    tot = cust.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("revcents").alias("total_cents"),
    )
    return (
        cum.join(F.broadcast(tot), "nation")
        .groupBy("nation", "n_customers", "total_cents")
        .agg(
            (
                F.lit(1)
                + F.coalesce(
                    F.sum(
                        F.when(5 * F.col("cumcents") < 4 * F.col("total_cents"), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("k_for_80"),
            F.expr(
                "CAST((MIN(CASE WHEN 5 * cumcents >= 4 * total_cents THEN cumcents END)"
                " * 1000000) DIV total_cents AS BIGINT)"
            ).alias("topk_share_ppm"),
        )
        .select(
            "nation",
            "n_customers",
            (F.col("total_cents").cast("double") / 100.0).alias("total_revenue"),
            "k_for_80",
            "topk_share_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two daily event series
# ---------------------------------------------------------------------------


@register(
    "lagged_cross_correlation",
    "Lead/lag discovery between two daily series: Pearson correlation "
    "of daily view counts vs purchase counts at every lag in [-3, +3] "
    "days, with the maximizing lag flagged — the demand-precedes-"
    "conversion diagnostic. Day ids are integer epoch-day (unix_micros "
    "DIV 86.4e9, rule 11 form), the 7 lags come from a bounded "
    "explode joined on shifted day, and each lag's moments are exact "
    "BIGINT sums (daily counts < 2^24, 30-day windows: every "
    "n*Sxy - Sx*Sy term is < 2^53, so the doubles entering the one "
    "corr expression tree are exact casts). sqrt is IEEE-exact (rule "
    "8); zero-variance lags emit 0. Fan-out: series length x 7 rows "
    "total — independent of event volume after the daily rollup.",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS dnum,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
    paired AS (
      SELECT l.lag, a.v AS x, b.p AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.dnum = a.dnum + l.lag
    ),
    mom AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM paired GROUP BY lag
    ),
    corr AS (
      SELECT lag, n_days,
             CASE WHEN n_days * sxx - sx * sx = 0
                    OR n_days * syy - sy * sy = 0 THEN 0.0
                  ELSE CAST(n_days * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                              * CAST(n_days * syy - sy * sy AS DOUBLE))
             END AS corr_xy
      FROM mom
    )
    SELECT lag, n_days, corr_xy,
           ROW_NUMBER() OVER (ORDER BY corr_xy DESC, lag) = 1 AS is_best_lag
    FROM corr
    """,
)
def q_lagged_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr("unix_micros(ts) DIV 86400000000").alias("dnum"), "event_type"
        )
        .groupBy("dnum")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("p"),
        )
    )
    lags = spark.range(7).select((F.col("id") - 3).cast("int").alias("lag"))
    a = daily.select(F.col("dnum").alias("da"), F.col("v").alias("x"))
    b = daily.select(F.col("dnum").alias("db"), F.col("p").alias("y"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    mom = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    corr = mom.select(
        "lag",
        "n_days",
        F.when(
            (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx") == 0)
            | (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy") == 0),
            F.lit(0.0),
        )
        .otherwise(
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            )
        )
        .alias("corr_xy"),
    )
    return corr.select(
        "lag",
        "n_days",
        "corr_xy",
        (
            F.row_number().over(Window.orderBy(F.desc("corr_xy"), F.asc("lag"))) == 1
        ).alias("is_best_lag"),
    )


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

_USHAPE_CREDIT = (
    "CASE WHEN n_touch = 1 THEN 1000000 "
    "WHEN n_touch = 2 THEN 500000 "
    "WHEN touch_rank = 1 THEN 400000 + 200000 % (n_touch - 2) "
    "WHEN touch_rank = n_touch THEN 400000 "
    "ELSE 200000 {div} (n_touch - 2) END"
)


@register(
    "attribution_position_based",
    "Position-based (U-shaped 40/20/40) multi-touch attribution, "
    "completing the linear + time-decay triad: first and last touch "
    "of each purchase's session path get 40%% each, the middle splits "
    "the remaining 20%% by truncating DIV with the remainder assigned "
    "to the first touch — so every purchase's credit sums to EXACTLY "
    "1e6 ppm (single-touch 100%%, two-touch 50/50). Attributed cents "
    "are cents*share_ppm DIV 1e6 per row (bounded: cents < 2^17, "
    "product < 2^37). Same sessionization and single (user, session) "
    "equi-join as the linear variant; the only new work is the "
    "constant-time credit CASE. Oracle uses two CTE levels for the "
    "session marks (rule 32: DuckDB rejects nested windows).",
    f"""
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
      SELECT t.event_type, p.cents,
             CAST(COUNT(*) OVER (PARTITION BY p.user_id, p.sess, p.p_id)
                  AS BIGINT) AS n_touch,
             ROW_NUMBER() OVER (PARTITION BY p.user_id, p.sess, p.p_id
                                ORDER BY t.tu, t.event_id) AS touch_rank
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id AND t.sess = p.sess AND t.tu < p.p_tu
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM({_USHAPE_CREDIT.format(div='//')}) AS BIGINT)
             AS credit_ppm_total,
           CAST(SUM((cents * ({_USHAPE_CREDIT.format(div='//')})) // 1000000)
                AS BIGINT) AS attributed_cents
    FROM credit
    GROUP BY event_type
    """,
)
def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tu"),
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint").alias("cents"),
    )
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000, 1
    ).otherwise(0)
    s = e.withColumn(
        "sess", F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    touches = s.filter(F.col("event_type") != "purchase").select(
        "user_id", "sess", "event_id", "event_type", "tu"
    )
    purchases = s.filter((F.col("event_type") == "purchase") & (F.col("cents") > 0)).select(
        "user_id", "sess", F.col("event_id").alias("p_id"), F.col("tu").alias("p_tu"), "cents"
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
    share = F.expr(_USHAPE_CREDIT.format(div="DIV"))
    return credit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(share).cast("bigint").alias("credit_ppm_total"),
        F.sum(F.expr(f"(cents * ({_USHAPE_CREDIT.format(div='DIV')})) DIV 1000000"))
        .cast("bigint")
        .alias("attributed_cents"),
    )


# ---------------------------------------------------------------------------
# Candidate-key discovery profile
# ---------------------------------------------------------------------------

# (table, label, per-engine key-string expressions). Timestamps enter the
# key via epoch micros — VARCHAR casts of temporals differ per engine.
_KEY_COMBOS: list[tuple[str, str, str, str]] = [
    (
        "lineitem",
        "l_orderkey",
        "CAST(l_orderkey AS STRING)",
        "CAST(l_orderkey AS VARCHAR)",
    ),
    (
        "lineitem",
        "l_orderkey+l_linenumber",
        "CAST(l_orderkey AS STRING) || '#' || CAST(l_linenumber AS STRING)",
        "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)",
    ),
    (
        "lineitem",
        "l_partkey+l_suppkey",
        "CAST(l_partkey AS STRING) || '#' || CAST(l_suppkey AS STRING)",
        "CAST(l_partkey AS VARCHAR) || '#' || CAST(l_suppkey AS VARCHAR)",
    ),
    (
        "orders",
        "o_orderkey",
        "CAST(o_orderkey AS STRING)",
        "CAST(o_orderkey AS VARCHAR)",
    ),
    (
        "orders",
        "o_custkey+o_orderdate",
        "CAST(o_custkey AS STRING) || '#' || CAST(unix_micros(o_orderdate) AS STRING)",
        "CAST(o_custkey AS VARCHAR) || '#' || CAST(epoch_us(o_orderdate) AS VARCHAR)",
    ),
    (
        "events",
        "user_id+ts",
        "CAST(user_id AS STRING) || '#' || CAST(unix_micros(ts) AS STRING)",
        "CAST(user_id AS VARCHAR) || '#' || CAST(epoch_us(ts) AS VARCHAR)",
    ),
]


@register(
    "candidate_key_profile",
    "Candidate-key discovery over a fixed combo catalog: for each "
    "(table, column-set) pair, row count vs distinct-key count, the "
    "uniqueness ratio in ppm, and the is-key verdict — the profiling "
    "pass schema inference and MERGE-key validation both start from. "
    "Key tuples become '#'-joined strings (temporals via epoch "
    "micros, since VARCHAR casts of timestamps differ per engine); "
    "each combo is one two-phase distinct-count aggregate (partial "
    "map-side distinct, one shuffle on the key hash), unioned into a "
    "6-row report. Scale: combos are evaluated independently — at "
    "100 TB each is exactly the cost of its own count-distinct, and "
    "the catalog is explicit, not a combinatorial explosion.",
    "\n    UNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS tbl, '{label}' AS key_cols,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {duck}) AS BIGINT) AS n_distinct,
           CAST((COUNT(DISTINCT {duck}) * 1000000) // COUNT(*) AS BIGINT)
             AS uniqueness_ppm,
           COUNT(DISTINCT {duck}) = COUNT(*) AS is_unique_key
    FROM {tbl}"""
        for tbl, label, _, duck in _KEY_COMBOS
    ),
)
def q_candidate_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, label, spark_expr, _ in _KEY_COMBOS:
        df = load_table(spark, sf_dir, tbl)
        agg = df.select(F.expr(spark_expr).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("k").cast("bigint").alias("n_distinct"),
        )
        row = agg.select(
            F.lit(tbl).alias("tbl"),
            F.lit(label).alias("key_cols"),
            "n_rows",
            "n_distinct",
            F.expr("CAST((n_distinct * 1000000) DIV n_rows AS BIGINT)").alias(
                "uniqueness_ppm"
            ),
            (F.col("n_distinct") == F.col("n_rows")).alias("is_unique_key"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Session entry / exit / bounce census per event type
# ---------------------------------------------------------------------------


@register(
    "session_bounce_entry_exit",
    "Session entry/exit census: for each event type, how many of the "
    "30-min-gap sessions it opens, how many it closes, and how many "
    "single-event sessions (bounces) it IS — plus its session-entry "
    "share in ppm — the landing/exit-page analysis of web analytics "
    "over the shared sessionization definition. First/last flags are "
    "two row_numbers over the materialized (user, session) partition "
    "(rule 32 two-level CTE on the oracle side); the global session "
    "count joins in as a broadcast scalar. One window pass + one "
    "5-row aggregate.",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
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
    flagged AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess
                                ORDER BY tu, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, sess
                                ORDER BY tu DESC, event_id DESC) AS rn_d,
             COUNT(*) OVER (PARTITION BY user_id, sess) AS slen
      FROM s
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS total_sessions
      FROM flagged
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
           CAST(SUM(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exits,
           CAST(SUM(CASE WHEN rn_a = 1 AND slen = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounces,
           CAST((SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) * 1000000)
                // total_sessions AS BIGINT) AS entry_share_ppm
    FROM flagged CROSS JOIN tot
    GROUP BY event_type, total_sessions
    """,
)
def q_session_bounce_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("tu"))
    wu = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.when(
        F.col("tu") - F.coalesce(F.lag("tu").over(wu), F.col("tu")) > 1_800_000_000, 1
    ).otherwise(0)
    s = e.withColumn(
        "sess", F.sum(gap).over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sess")
    flagged = s.select(
        "event_type",
        F.row_number().over(ws.orderBy("tu", "event_id")).alias("rn_a"),
        F.row_number().over(ws.orderBy(F.desc("tu"), F.desc("event_id"))).alias("rn_d"),
        F.count(F.lit(1)).over(ws).alias("slen"),
    )
    tot = flagged.agg(
        F.sum(F.when(F.col("rn_a") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("total_sessions")
    )
    return (
        flagged.crossJoin(F.broadcast(tot))
        .groupBy("event_type", "total_sessions")
        .agg(
            F.sum(F.when(F.col("rn_a") == 1, 1).otherwise(0)).cast("bigint").alias("n_entries"),
            F.sum(F.when(F.col("rn_d") == 1, 1).otherwise(0)).cast("bigint").alias("n_exits"),
            F.sum(F.when((F.col("rn_a") == 1) & (F.col("slen") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            F.expr(
                "CAST((SUM(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) * 1000000)"
                " DIV FIRST(total_sessions) AS BIGINT)"
            ).alias("entry_share_ppm"),
        )
        .select(
            "event_type", "n_entries", "n_exits", "n_bounces", "entry_share_ppm"
        )
    )
