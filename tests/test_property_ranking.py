"""Property-based (hypothesis) model checks for ``two_phase_scan``: the
distributed rank / prefix sum / running max must agree with a
plain-Python reference (sorted-order rank, cumulative sum and max) on
ARBITRARY generated data — duplicate order keys, empty groups,
single-row groups, skewed buckets — not just the oracle dataset. The
coarse bucket width is drawn too, since correctness must hold for ANY
order-aligned bucketing."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import ranking


@st.composite
def grouped_rows(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    for i in range(n):
        g = draw(st.integers(min_value=0, max_value=3))
        v = draw(st.integers(min_value=0, max_value=1000))
        w = draw(st.integers(min_value=0, max_value=9))
        rows.append((g, i, v, w))  # (group, unique id, value, weight)
    width = draw(st.sampled_from([1, 7, 64, 1000, 5000]))
    return rows, width


def _model_rank(rows):
    out = {}
    by_g = {}
    for g, i, v, w in rows:
        by_g.setdefault(g, []).append((v, i))
    for g, vs in by_g.items():
        for r, (v, i) in enumerate(sorted(vs), start=1):
            out[i] = r
    return out


def _model_cumsum(rows):
    out = {}
    by_g = {}
    for g, i, v, w in rows:
        by_g.setdefault(g, []).append((v, i, w))
    for g, vs in by_g.items():
        run = 0
        for v, i, w in sorted(vs):
            run += w
            out[i] = run
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(grouped_rows())
def test_grouped_two_phase_rank_matches_model(spark, case):
    rows, width = case
    df = spark.createDataFrame(rows, "g int, id int, v int, w int")
    got = {
        r.id: r.rk
        for r in ranking.two_phase_scan(
            df,
            ["g"],
            [("rk", ["v", "id"], F.expr(f"v DIV {width}"), F.lit(1), "sum", False)],
        ).collect()
    }
    assert got == _model_rank(rows)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(grouped_rows())
def test_grouped_two_phase_cumsum_matches_model(spark, case):
    rows, width = case
    df = spark.createDataFrame(rows, "g int, id int, v int, w int")
    got = {
        r.id: r.cumw
        for r in ranking.two_phase_scan(
            df,
            ["g"],
            [("cumw", ["v", "id"], F.expr(f"v DIV {width}"), F.col("w"), "sum", False)],
        ).collect()
    }
    assert got == _model_cumsum(rows)


def _model_global_rank(rows, key):
    # rows: (g, id, v, w); rank by (key(row), id) globally, 1-based
    order = sorted(rows, key=lambda r: (key(r), r[1]))
    return {r[1]: i for i, r in enumerate(order, start=1)}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(grouped_rows())
def test_two_phase_multi_rank_matches_single_rank(spark, case):
    """k rank specs in one global scan (one materialization barrier)
    must each equal the sorted-order model of that spec alone."""
    rows, width = case
    df = spark.createDataFrame(rows, "g int, id int, v int, w int")
    one = F.lit(1)
    ranked = ranking.two_phase_scan(
        df,
        [],
        [
            ("rv", ["v", "id"], F.expr(f"v DIV {width}"), one, "sum", False),
            ("rw", ["w", "id"], F.expr("w DIV 3"), one, "sum", False),
            ("rg", ["g", "id"], F.expr("g"), one, "sum", False),
        ],
    )
    out = ranked.collect()
    got = {r.id: (r.rv, r.rw, r.rg) for r in out}
    assert {(r.rv_total, r.rw_total, r.rg_total) for r in out} == {(len(rows),) * 3}
    mv = _model_global_rank(rows, lambda r: r[2])
    mw = _model_global_rank(rows, lambda r: r[3])
    mg = _model_global_rank(rows, lambda r: r[0])
    assert got == {i: (mv[i], mw[i], mg[i]) for i in mv}


def _model_ntile(n, k):
    # ANSI NTILE(k) over ranks 1..n: the first n mod k buckets take
    # ceil(n/k) rows, the rest floor(n/k)
    out, rank = {}, 1
    for b in range(1, k + 1):
        for _ in range(n // k + (1 if b <= n % k else 0)):
            out[rank] = b
            rank += 1
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=1, max_value=60), st.sampled_from([1, 3, 5, 8]))
def test_equidepth_bucket_grouped_matches_scalar(spark, n, k):
    """Column-typed NTILE must equal the plain-Python ANSI NTILE model
    for every rank 1..n."""
    df = spark.range(1, n + 1).select(
        F.col("id").alias("rank"), F.lit(n).cast("long").alias("n")
    )
    got = {
        r.rank: r.b
        for r in df.select(
            "rank",
            ranking.equidepth_bucket(F.col("rank"), F.col("n"), k).alias("b"),
        ).collect()
    }
    assert got == _model_ntile(n, k)


def _model_scan(rows, grouped, agg, exclusive):
    """Running ``agg`` of w in (v, id) order per group (or globally),
    inclusive or strictly-before, plus the per-group total."""
    fold = {"sum": lambda a, b: a + b, "max": max}[agg]
    start = 0 if agg == "sum" else None
    by_g = {}
    for g, i, v, w in rows:
        by_g.setdefault(g if grouped else 0, []).append((v, i, w))
    out = {}
    for vs in by_g.values():
        run, seen = start, []
        for v, i, w in sorted(vs):
            before = run
            run = w if run is None else fold(run, w)
            seen.append((i, before if exclusive else run))
        for i, x in seen:
            out[i] = (x, run)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(grouped_rows())
def test_two_phase_scan_matches_model(spark, case):
    """Every (agg, exclusive) spec, grouped and global, and each
    ``<name>_total`` column agree with the Python model; the four specs
    share one scan call, so mixed aggregates over one barrier are
    covered too."""
    rows, width = case
    df = spark.createDataFrame(rows, "g int, id int, v int, w int")
    combos = [(agg, ex) for agg in ("sum", "max") for ex in (False, True)]
    coarse = F.expr(f"v DIV {width}")
    for grouped in (True, False):
        out = ranking.two_phase_scan(
            df,
            ["g"] if grouped else [],
            [
                (f"{agg}_{int(ex)}", ["v", "id"], coarse, F.col("w"), agg, ex)
                for agg, ex in combos
            ],
        ).collect()
        for agg, ex in combos:
            name = f"{agg}_{int(ex)}"
            got = {r.id: (r[name], r[f"{name}_total"]) for r in out}
            assert got == _model_scan(rows, grouped, agg, ex), (grouped, name)
