"""Property-based (hypothesis) model checks: the CDC merge operators
must agree with a plain-Python reference model on ARBITRARY generated
change sequences — ordering ties, delete-then-update, update-then-
delete, keys never in base, multi-change chains — not just the
hand-picked cases of the unit tests and the one oracle dataset."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_seattle_call_data_spark.operators import cdc

KEYS = st.integers(min_value=0, max_value=7)


@st.composite
def merge_case(draw):
    base_keys = draw(st.sets(KEYS, max_size=6))
    base = [(k, f"b{k}", 0) for k in sorted(base_keys)]
    n = draw(st.integers(min_value=0, max_value=12))
    changes = []
    for i in range(n):
        k = draw(KEYS)
        op = draw(st.sampled_from(["U", "D"]))
        # seq = i+1: globally unique, increasing — total order per key
        changes.append((k, op, f"c{k}.{i}", i + 1))
    return base, changes


def _model(base, changes):
    latest = {}
    for k, op, state, seq in changes:
        if k not in latest or seq > latest[k][2]:
            latest[k] = (op, state, seq)
    out = {}
    for k, state, ver in base:
        if k not in latest:
            out[k] = (state, ver)
    for k, (op, state, seq) in latest.items():
        if op != "D":
            out[k] = (state, seq)
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(merge_case())
def test_apply_changes_matches_model(spark, case):
    base_rows, change_rows = case
    base = spark.createDataFrame(base_rows or [(99, "sentinel", 0)], "k int, state string, ver int")
    if not base_rows:
        base = base.filter("k < 0")  # empty frame, schema kept
    changes = spark.createDataFrame(
        change_rows or [(99, "U", "sentinel", 1)], "k int, op string, state string, ver int"
    )
    if not change_rows:
        changes = changes.filter("k < 0")
    out = cdc.apply_changes(base, changes, key="k", seq_cols=["ver"])
    got = {r.k: (r.state, r.ver) for r in out.collect()}
    assert got == _model(base_rows, change_rows)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(KEYS, st.integers(0, 100), st.integers(1, 9)), max_size=10
    ),
    st.lists(
        st.tuples(KEYS, st.integers(0, 100), st.integers(1, 9)), max_size=10
    ),
)
def test_upsert_snapshot_matches_model(spark, cur_rows, batch_rows):
    """upsert_snapshot keeps the newest row per key by order_col, batch
    winning ties — checked against a dict fold. Duplicate (key, order)
    rows WITHIN a side are themselves tie-broken arbitrarily, so we
    dedupe per side first to keep the model deterministic."""
    cur_rows = list({(k, o): v for k, v, o in cur_rows}.items())
    cur_rows = [(k, v, o) for (k, o), v in cur_rows]
    batch_rows = list({(k, o): v for k, v, o in batch_rows}.items())
    batch_rows = [(k, v, o) for (k, o), v in batch_rows]

    schema = "k int, v int, ord int"
    cur = spark.createDataFrame(cur_rows or [(0, 0, 0)], schema)
    if not cur_rows:
        cur = cur.filter("k < 0")
    batch = spark.createDataFrame(batch_rows or [(0, 0, 0)], schema)
    if not batch_rows:
        batch = batch.filter("k < 0")

    out = cdc.upsert_snapshot(cur, batch, key="k", order_col="ord")
    got = {r.k: (r.v, r.ord) for r in out.collect()}

    best = {}
    for src, rows in ((0, cur_rows), (1, batch_rows)):
        for k, v, o in rows:
            if k not in best or (o, src) > (best[k][2], best[k][3]):
                best[k] = (v, o, o, src)
    want = {k: (v, o) for k, (v, o, _, _) in best.items()}
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 20)),  # (start, len)
        min_size=1,
        max_size=14,
    )
)
def test_sweepline_peak_matches_bruteforce(spark, intervals):
    """The sweep-line peak-concurrency rewrite equals the brute-force
    answer (max over all interval starts of how many intervals cover
    that start) for ARBITRARY interval sets — including exact
    boundary-touch cases, where [a,b) and [b,c) must NOT count as
    concurrent."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    ivs = [(s, s + ln) for s, ln in intervals]
    # brute force: peak occurs at some interval start
    want = max(sum(1 for a, b in ivs if a <= s < b) for s, _ in ivs)

    df = spark.createDataFrame(ivs, "a int, b int")
    pts = df.selectExpr("a AS t", "1 AS d").unionByName(
        df.selectExpr("b AS t", "-1 AS d")
    )
    w = (
        Window.orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = (
        pts.withColumn("open_now", F.sum("d").over(w))
        .agg(F.max("open_now"))
        .first()[0]
    )
    assert got == want


# ---------------------------------------------------------------------------
# two_phase_scan rank: distributed global rank must equal the Python model
# on arbitrary value multisets (heavy ties, skewed coarse buckets,
# negative values, all-equal inputs)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=25),
)
def test_two_phase_rank_matches_sorted_model(spark, values, width):
    from pyspark.sql import functions as F

    from etl_seattle_call_data_spark.operators import ranking

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v long")
    coarse = F.floor(F.col("v") / width)
    ranked = ranking.two_phase_scan(
        df, [], [("global_rank", ["v", "id"], coarse, F.lit(1), "sum", False)]
    )
    rows_out = ranked.collect()
    assert {r.global_rank_total for r in rows_out} == {len(values)}
    got = {r.id: r.global_rank for r in rows_out}
    expect = {
        id_: rnk + 1
        for rnk, (v, id_) in enumerate(sorted((v, i) for i, v in rows))
    }
    assert got == expect
