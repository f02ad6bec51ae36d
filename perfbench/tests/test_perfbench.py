"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The Spark tests share one small ``local[2]`` session with the event log
on, and run each workload at a tiny size with every output check on.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, gen, layers, run, workloads  # noqa: E402
from perfbench.trace import Tracer, plan_stats, read_event_logs  # noqa: E402

SMOKE_QUERIES = ("events_by_type", "anti_join_cascade", "doc_token_stats", "multimodal_features")


# ------------------------------------------------------------ determinism

def test_same_seed_same_tables():
    a, b = gen.build_tables(0.001, 5), gen.build_tables(0.001, 5)
    assert a.keys() == set(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    c = gen.build_tables(0.001, 6)
    assert not a["lineitem"].equals(c["lineitem"])


def test_same_seed_same_csv_and_records(tmp_path):
    paths = [tmp_path / f"{i}.csv" for i in range(3)]
    kept = [gen.write_cad_csv(str(p), 500, s) for p, s in zip(paths, (3, 3, 4))]
    assert paths[0].read_bytes() == paths[1].read_bytes() != paths[2].read_bytes()
    assert kept[0] == kept[1] and 0 < kept[0] < 500
    assert gen.stream_records(50, 3) == gen.stream_records(50, 3) != gen.stream_records(50, 4)


def test_stream_records_resend_recent_events():
    recs = gen.stream_records(400, 1)
    keys = [r["cad_event_number"] for r in recs]
    assert len(set(keys)) < len(keys)  # some events are re-sent
    stamps = [r["processed_at"] for r in recs]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)


# ------------------------------------------------------------- statistics

def test_percentile_interpolates():
    assert layers.percentile([4, 1, 3, 2], 50) == 2.5
    assert layers.percentile(range(11), 80) == 8
    assert layers.percentile([1, 2], 80) == pytest.approx(1.8)
    assert layers.percentile([5], 80) == 5
    with pytest.raises(ValueError):
        layers.percentile([], 50)


def test_failed_frac():
    assert layers.failed_frac(10, 0) == 0.0
    assert layers.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        layers.failed_frac(0, 0)


def test_plan_stats_counts_shapes():
    plan = (
        "HashAggregate\n+- Exchange hashpartitioning\n   +- SortMergeJoin\n"
        "      :- BroadcastHashJoin\n      +- MapInPandas\n         +- Exchange"
    )
    assert plan_stats(plan) == {
        "exchanges": 2, "sort_merge_joins": 1, "broadcast_joins": 1, "python_nodes": 1,
    }


def _record(tmp_path, name, nproc, value, trace=False, passes=(10.0, 4.0, 5.0)):
    host = dict.fromkeys(compare.FINGERPRINT, "x") | {"nproc": nproc}
    rec = {"workload": "ingest", "trace": trace, "host": host, "metrics": {"setup_s": value},
           "passes": [{"seconds": s} for s in passes]}
    path = tmp_path / f"{name}.json"
    path.write_text(json.dumps(rec))
    return str(path)


def test_compare_refuses_mismatched_hosts(tmp_path, capsys):
    a = _record(tmp_path, "a", 4, 1.0)
    b = _record(tmp_path, "b", 4, 1.5)
    assert compare.main([a, "--", b]) == 0
    assert "+50.0%" in capsys.readouterr().out
    c = _record(tmp_path, "c", 32, 1.0)
    assert compare.main([a, "--", c]) == 3


def test_warm_passes_follow_seconds_not_run_speed():
    assert run.warm_passes("session_sf0.1", 36) == 3
    assert run.warm_passes("ingest", 36) == 1
    assert run.warm_passes("ingest", 1) == 1


def test_tracing_overhead_is_traced_minus_untraced(tmp_path):
    plain = [json.loads(open(_record(tmp_path, f"p{i}", 4, 1.0)).read()) for i in range(2)]
    traced = json.loads(open(_record(tmp_path, "t", 4, 1.0, True, (12.0, 5.0, 5.5))).read())
    assert compare.tracing_overhead(plain) == {}
    cold, warm = compare.tracing_overhead(plain + [traced])["ingest"]
    assert cold == pytest.approx(2.0) and warm == pytest.approx(0.75)


# ------------------------------------------------------------------ Spark

@pytest.fixture(scope="module")
def env(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    log_dir = base / "eventlog"
    log_dir.mkdir()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from etl_seattle_call_data_spark.session import get_spark

    spark = get_spark(app_name="perfbench-tests", shuffle_partitions=2,
                      extra_conf=run.spark_conf(str(log_dir)))
    yield spark, base, log_dir
    spark.stop()


@pytest.fixture(scope="module")
def tables(env):
    import duckdb

    from etl_seattle_call_data_spark.plans.queries import REGISTRY
    from tools.verify_oracle import duck_digest

    sf_dir = str(env[1] / "sf0.001")
    gen.write_tables(sf_dir, 0.001, 42)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return sf_dir, {n: duck_digest(con, REGISTRY[n].oracle)[1] for n in SMOKE_QUERIES}


def test_event_log_parser_on_a_tiny_run(env, tables):
    spark, _, log_dir = env
    sc = spark.sparkContext
    sc.setJobGroup("tiny", "tiny")
    spark.read.parquet(os.path.join(tables[0], "lineitem.parquet")).groupBy(
        "l_returnflag"
    ).count().collect()
    sc.setJobGroup("", "")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    groups = read_event_logs(str(log_dir))
    g = groups["tiny"]
    assert g["jobs"] >= 1 and g["stages"] >= 1 and g["tasks"] >= g["stages"]
    assert g["input_bytes"] > 0 and g["shuffle_write_bytes"] > 0
    assert g["executor_run_ms"] >= 0


def test_query_session_smoke(env, tables):
    spark = env[0]
    sf_dir, expected = tables
    out = workloads.run_queries(spark, sf_dir, list(SMOKE_QUERIES), expected, 1, Tracer(True))
    assert [p.kind for p in out.passes] == ["cold", "warm"]
    assert out.attempted == 2 * len(SMOKE_QUERIES) and out.failed == 0
    groups = read_event_logs(str(env[2]))
    m = layers.per_layer({"import_s": 0.1, "start_s": 1.0, "warmup_s": 0.5}, out,
                         Tracer(False), groups, 2, 900.0)
    assert m.keys() == layers.UNITS.keys()
    assert m["python.queries"] == 1 and m["catalyst.exchanges"] > 0
    e2e = layers.end_to_end({"setup_s": 1.0}, out, 100.0)
    assert e2e.keys() == layers.E2E_UNITS.keys() and all(v > 0 for v in e2e.values())


def test_corrupted_expected_digest_fails_the_check(env, tables):
    sf_dir, expected = tables
    bad = dict(expected)
    cnt, hsum, hxor = bad["events_by_type"]
    bad["events_by_type"] = [cnt, hsum + 1, hxor]
    out = workloads.run_queries(env[0], sf_dir, ["events_by_type", "doc_token_stats"], bad,
                                1, Tracer(False))
    assert out.attempted == 4 and out.failed == 2  # the corrupted query, in both passes


def test_ingest_smoke(env):
    spark, base, _ = env
    csv = str(base / "cad" / "cad.csv")
    kept = gen.write_cad_csv(csv, 2000, 9)
    work = workloads.fresh_dir(str(base / "ingest"))
    tracer = Tracer(True)
    out = workloads.run_ingest(spark, work, csv, 2000, kept, 9, 1, tracer,
                               epochs=3, epoch_records=40)
    assert out.failed == 0, out.notes
    assert out.attempted == 2 * (1 + 3)  # per pass: the ETL run and three epochs
    assert [p.kind for p in out.passes] == ["cold", "warm"]
    store = out.notes["store"]
    assert store["live_dirs"] >= 1 and store["live_bytes"] > 0
    m = layers.per_layer({"import_s": 0.1, "start_s": 1.0, "warmup_s": 0.5}, out, tracer,
                         read_event_logs(str(env[2])), 2, 900.0)
    assert m["stream.epochs"] == 6 and m["stream.buckets_touched_per_epoch"] > 0
    assert m["etl.rows_per_s"] > 0 and m["etl.output_bytes"] > 0
    assert m["exec.jobs"] > m["etl.jobs"]  # the stream's jobs count too
    assert m["trace.uncovered_s"] < 0.1 * sum(p.seconds for p in out.passes)
    assert json.loads(json.dumps(out.notes))  # the record stays JSON-serialisable
