"""Semantic invariants for the wave 17-19 queries — properties the
oracle hash-compare cannot express (it proves Spark == DuckDB, not
that both satisfy the statistic's contract). All run on sf0.001.
"""

from __future__ import annotations

import pytest

from etl_seattle_call_data_spark.plans.queries import REGISTRY
from tests.conftest import SF_SMOKE


def _run(spark, name, sf=SF_SMOKE):
    return REGISTRY[name].spark(spark, sf).collect()


# --- wave 17 ---------------------------------------------------------------


def test_spearman_rho_in_range(spark):
    rows = _run(spark, "spearman_corr_by_flag")
    assert len(rows) == 3
    total = sum(r["n_rows"] for r in rows)
    import duckdb

    truth = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchone()[0]
    assert total == truth  # midrank join is lossless
    for r in rows:
        assert -1.0 <= r["spearman_rho"] <= 1.0


def test_pettitt_k_within_bounds(spark):
    (r,) = _run(spark, "pettitt_changepoint_daily")
    n = r["n_days"]
    # |U_t| is at most t*(n-t) <= n^2/4 with midranks
    assert 0 <= r["k_stat"] <= n * n
    assert r["lambda_stat"] >= 0.0


def test_price_index_base_month_is_unity(spark):
    rows = _run(spark, "price_index_fisher_monthly")
    base = min(r["ym"] for r in rows)
    for r in rows:
        if r["ym"] == base:
            assert r["laspeyres"] == pytest.approx(1.0)
            assert r["paasche"] == pytest.approx(1.0)
            assert r["fisher"] == pytest.approx(1.0)
        # Fisher is the geometric mean: between min and max of L and P
        lo, hi = sorted((r["laspeyres"], r["paasche"]))
        assert lo - 1e-12 <= r["fisher"] <= hi + 1e-12


def test_link_prediction_pairs_are_nonedges_with_positive_score(spark):
    rows = _run(spark, "link_prediction_resource_alloc")
    assert 0 < len(rows) <= 20
    seen = set()
    for r in rows:
        assert r["part_u"] < r["part_w"]
        assert r["common_neighbors"] >= 1
        assert r["ra_score_fp"] > 0
        seen.add((r["part_u"], r["part_w"]))
    assert len(seen) == len(rows)  # no duplicate pairs


def test_inclusion_dependency_known_fks_full(spark):
    rows = {r["dependency"]: r for r in _run(spark, "inclusion_dependency_profile")}
    assert rows["lineitem.l_orderkey<orders.o_orderkey"]["full_inclusion"]
    assert rows["lineitem.l_partkey<part.p_partkey"]["full_inclusion"]
    for r in rows.values():
        assert 0 <= r["n_contained"] <= r["n_child"]
        assert 0 <= r["containment_ppm"] <= 1_000_000


def test_interval_coverage_islands_invariants(spark):
    for r in _run(spark, "interval_coverage_islands"):
        assert 1 <= r["n_islands"] <= r["n_orders"]
        # each island covers >= 30 days; union bounded by span
        assert 30 * r["n_islands"] <= r["covered_days"] <= r["span_days"]
        assert 0 < r["coverage_ppm"] <= 1_000_000


# --- wave 18 ---------------------------------------------------------------


def test_kendall_tau_pair_accounting(spark):
    (r,) = _run(spark, "kendall_tau_daily")
    assert -1.0 <= r["tau_b"] <= 1.0
    assert r["concordant"] + r["discordant"] <= r["n_pairs"]


def test_ridge_betas_finite_and_intercept_near_mean(spark):
    import math

    rows = _run(spark, "ridge_normal_equations")
    assert len(rows) == 3
    for r in rows:
        for b in (r["beta0"], r["beta1"], r["beta2"]):
            assert math.isfinite(b)
        # slopes are tiny in this near-independent corpus; the intercept
        # must land near the mean quantity (1..50 uniform -> ~25.5)
        assert 0.0 < r["beta0"] < 51.0


def test_runs_test_counts_consistent(spark):
    (r,) = _run(spark, "runs_test_daily")
    assert r["n_above"] + r["n_below"] == r["n_days_used"]
    # median split of a no-ties-dropped series is near-balanced
    assert abs(r["n_above"] - r["n_below"]) <= r["n_days_used"] // 2
    assert 1 <= r["n_runs"] <= r["n_days_used"]


def test_sequence_gap_audit_gaps_are_real(spark):
    rows = _run(spark, "sequence_gap_audit")
    assert len(rows) > 0
    for r in rows:
        assert r["gap_end"] >= r["gap_start"]
        assert r["n_missing"] == r["gap_end"] - r["gap_start"] + 1


def test_watermark_census_accounting(spark):
    rows = _run(spark, "late_event_watermark_census")
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["n_late"] <= r["n_events"]
        assert 0 <= r["late_ppm"] <= 1_000_000
        assert r["max_lateness_s"] >= 0
    # the jitter must actually reorder the feed: with stride-1 arrival
    # plus jitter in [0,96], events DO arrive behind the high-water
    # mark, so lateness is non-vacuous in aggregate
    assert sum(r["max_lateness_s"] for r in rows) > 0


def test_acf_lag_rows_and_range(spark):
    rows = _run(spark, "acf_daily_revenue")
    assert len(rows) == 10
    for r in rows:
        assert -1.0 <= r["acf"] <= 1.0


def test_two_phase_running_max_matches_window(spark):
    # exclusive running max over a small frame == the plain window form
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_seattle_call_data_spark.operators.ranking import two_phase_scan

    df = spark.range(0, 500).select(
        F.col("id"),
        ((F.col("id") * 37 + 11) % 251).alias("v"),
    )
    got = two_phase_scan(
        df, [], [("rm", ["id"], F.expr("id DIV 64"), F.col("v"), "max", True)]
    )
    want = df.withColumn(
        "rm_ref",
        F.max("v").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    j = got.join(want.select("id", "rm_ref"), "id").collect()
    assert len(j) == 500
    for r in j:
        assert r["rm"] == r["rm_ref"]


# --- wave 19 ---------------------------------------------------------------


def test_heavy_hitters_truth_is_topk_and_flags_boolean(spark):
    rows = _run(spark, "heavy_hitters_candidate_verify")
    assert [r["true_rank"] for r in sorted(rows, key=lambda r: r["true_rank"])] == list(
        range(1, len(rows) + 1)
    )
    counts = [r["n_rows"] for r in sorted(rows, key=lambda r: r["true_rank"])]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["n_candidates"] >= 1


def test_similarity_histogram_shares_sum_to_one(spark):
    rows = _run(spark, "embedding_similarity_histogram")
    pops = {}
    for r in rows:
        assert -11 <= r["decile"] <= 10
        pops.setdefault(r["population"], 0)
        pops[r["population"]] += r["share_ppm"]
    assert set(pops) == {"same_label", "hash_bucket"}
    for total in pops.values():
        # truncated ppm shares: within #buckets of exactly 1e6
        assert 1_000_000 - len(rows) <= total <= 1_000_000


def test_quantile_sketch_error_reasonable(spark):
    rows = _run(spark, "quantile_sketch_error_eval")
    assert len(rows) == 3
    for r in rows:
        assert r["n_sample"] > 0
        assert 0 <= r["rank_error_ppm"] <= 1_000_000
        assert abs(r["achieved_ppm"] - r["target_ppm"]) == r["rank_error_ppm"]


def test_hodges_lehmann_between_min_and_max(spark):
    (r,) = _run(spark, "hodges_lehmann_daily")
    assert r["n_walsh_pairs"] == r["n_days"] * (r["n_days"] + 1) // 2
    assert r["hodges_lehmann_dollars"] > 0
    assert r["plain_median_dollars"] > 0


def test_mann_kendall_s_bounds(spark):
    (r,) = _run(spark, "mann_kendall_trend_daily")
    n = r["n_days"]
    n0 = n * (n - 1) // 2
    assert -n0 <= r["s_stat"] <= n0
    assert r["var_num_18"] > 0


def test_semi_additive_balance_monotone_and_carried(spark):
    rows = sorted(
        _run(spark, "semi_additive_balance_monthly"), key=lambda r: r["ym"]
    )
    prev = 0.0
    for r in rows:
        assert r["total_balance"] >= prev  # spend balances never shrink
        prev = r["total_balance"]
        assert r["n_carried"] >= 0
    # once every customer has started, active + carried = customer count
    last = rows[-1]
    import duckdb

    truth = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchone()[0]
    assert last["n_active"] + last["n_carried"] == truth
