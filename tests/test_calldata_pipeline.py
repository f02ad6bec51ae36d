"""Golden end-to-end pipeline test (SURVEY §5.4): synthetic call-data CSV
→ full transform chain → star split → parquet → assertions on schemas,
row counts, and spot values for every repair/filter branch."""

from __future__ import annotations

import datetime

import pytest

from etl_seattle_call_data_spark.operators.calldata import transform_call_data
from etl_seattle_call_data_spark.operators.star_schema import (
    STAR_TABLES,
    join_star,
    split_star_schema,
)
from etl_seattle_call_data_spark.sinks import ParquetDirSink, register_star_tables, write_tables
from etl_seattle_call_data_spark.sources.csv_source import read_csv_sampled
from tests.fixtures import write_fixture_csv


@pytest.fixture(scope="module")
def transformed(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("calldata") / "Call_Data.csv"
    n = write_fixture_csv(str(path))
    assert n == 10
    raw = read_csv_sampled(spark, str(path), sample_ratio=1.0)
    return transform_call_data(raw).cache()


def _by_unit(transformed, dispatch_id):
    rows = transformed.filter(transformed.call_sign_dispatch_id == dispatch_id).collect()
    assert len(rows) == 1, dispatch_id
    return rows[0]


def test_row_filtering(transformed):
    # 10 input rows: -1 null arrival (S13...), -2 cascade (event ...0007)
    assert transformed.count() == 7
    events = {r.cad_event_number for r in transformed.select("cad_event_number").collect()}
    assert "2024000006" not in events  # null arrival dropped (P5)
    assert "2024000007" not in events  # BOTH rows cascade-dropped (J1)


def test_ampm_and_24h_parsing(transformed):
    r = _by_unit(transformed, "E012024000001")
    assert r.cad_event_original_time_queued == datetime.datetime(2024, 5, 12, 13, 0, 0)
    r24 = _by_unit(transformed, "L052024000002")
    assert r24.cad_event_original_time_queued == datetime.datetime(2024, 5, 12, 13, 0, 0)
    r12am = _by_unit(transformed, "N072024000003")
    assert r12am.cad_event_original_time_queued == datetime.datetime(2024, 5, 12, 0, 5, 0)


def test_malformed_timestamp_nulls_and_defaults(transformed):
    r = _by_unit(transformed, "U172024000008")
    assert r.cad_event_original_time_queued is None  # unparseable → null
    assert r.priority == -1  # fillna default
    assert r.dispatch_sector == "UNKNOWN"  # fillna default
    assert r.event_date == "not a time"[:10]  # raw substring, pre-parse


def test_event_date_is_raw_substring(transformed):
    r = _by_unit(transformed, "E012024000001")
    assert r.event_date == "05/12/2024"


def test_agency_merge_asymmetry(transformed):
    # CARE-only scene time → first_response comes from CARE (SPD null)
    r = _by_unit(transformed, "E012024000001")
    assert r.first_response_at_scene_time == datetime.datetime(2024, 5, 12, 13, 18, 0)
    # durations prefer CARE over SPD
    assert r.total_service_time_s == 2400
    assert r.dispatch_delay_time_s == 60
    assert r.first_response_time_s == 480


def test_at_scene_repair_branches(transformed):
    # SPD scene present & after dispatch → repaired from first_response
    r_spd = _by_unit(transformed, "Q092024000004")
    assert r_spd.call_sign_at_scene_time == datetime.datetime(2024, 5, 12, 13, 22, 0)
    # no first-response at all → repaired from dispatch time
    r_dispatch = _by_unit(transformed, "R112024000005")
    assert r_dispatch.call_sign_at_scene_time == datetime.datetime(2024, 5, 12, 13, 10, 0)


def test_response_seconds_repair(transformed):
    # row with null Call Sign Response Time (s) → at_scene - queued
    r = _by_unit(transformed, "E022024000001")
    assert r.call_sign_response_time_s == 20 * 60  # 13:20 - 13:00


def test_unit_id_strips_event_number(transformed):
    r = _by_unit(transformed, "E012024000001")
    assert r.unit_id == "E01"


def test_surrogate_keys_deterministic(transformed):
    rows = transformed.select(
        "call_sign_dispatch_id",
        "dim_care_spd_id",
        "dim_co_response_id",
        "dim_cad_event_id",
        "dim_location_id",
        "dim_call_sign_id",
    ).collect()
    for r in rows:
        ids = {r.dim_care_spd_id, r.dim_co_response_id, r.dim_cad_event_id, r.dim_location_id, r.dim_call_sign_id}
        assert len(ids) == 1  # same per-row value across all five (reference semantics)
    assert len({r.dim_cad_event_id for r in rows}) == len(rows)  # unique per row
    # re-running the transform yields the same keys (vs monotonically_increasing_id)
    again = {r.call_sign_dispatch_id: r.dim_cad_event_id for r in rows}
    assert all(again[r.call_sign_dispatch_id] == r.dim_cad_event_id for r in rows)


def test_star_split_and_write(transformed, spark, tmp_path):
    tables = split_star_schema(transformed)
    for name, cols in STAR_TABLES.items():
        assert tables[name].columns == cols
    counts = write_tables(tables, ParquetDirSink(str(tmp_path / "star")))
    assert set(counts) == set(STAR_TABLES)
    assert all(c == 7 for c in counts.values())
    # round-trip: re-joining the star tables reproduces the fact row count
    wide = join_star(tables)
    assert wide.count() == 7


def test_surrogate_keys_survive_duplicate_dispatch_ids(spark):
    # two rows sharing a call_sign_dispatch_id must still mint distinct
    # dim ids (the composite key includes event number + dispatch time);
    # hashing the dispatch id alone would collide and join_star would
    # then fan out m×m on the dim joins
    from etl_seattle_call_data_spark.operators.calldata import mint_surrogate_keys

    df = spark.createDataFrame(
        [
            ("2024000001", "D1", "2024-01-01 10:00:00"),
            ("2024000002", "D1", "2024-01-01 11:00:00"),  # same dispatch id
            ("2024000001", "D1", "2024-01-01 10:00:00"),  # true duplicate row
        ],
        ["cad_event_number", "call_sign_dispatch_id", "call_sign_dispatch_time"],
    )
    out = mint_surrogate_keys(df).collect()
    assert out[0].dim_cad_event_id != out[1].dim_cad_event_id
    assert out[0].dim_cad_event_id == out[2].dim_cad_event_id  # deterministic


def test_full_pipeline_with_catalog_registration(spark, tmp_path):
    """End-to-end run_batch_pipeline through the Sink interface, plus S12
    catalog registration: outputs queryable by name via spark.sql."""
    from etl_seattle_call_data_spark.pipeline import run_batch_pipeline

    csv = tmp_path / "Call_Data.csv"
    write_fixture_csv(str(csv))
    res = run_batch_pipeline(
        spark, str(csv), str(tmp_path / "out"), register_catalog="serving_test"
    )
    assert res.row_counts["fact_call"] == 7
    assert len(res.registered_tables) == 6
    # observe() quality metrics rode the write job — no extra pass
    assert res.metrics["n_rows"] == 7
    assert res.metrics["null_event_keys"] == 0
    n = spark.sql("SELECT count(*) AS n FROM serving_test.fact_call").first().n
    assert n == 7
    joined = spark.sql(
        """
        SELECT count(*) AS n
        FROM serving_test.fact_call f
        JOIN serving_test.dim_cad_event d ON f.dim_cad_event_id = d.dim_cad_event_id
        """
    ).first().n
    assert joined == 7
    # idempotent bootstrap: IF NOT EXISTS re-registration is a no-op
    register_star_tables(spark, ParquetDirSink(str(tmp_path / "out")), database="serving_test")


def test_cli_list_run_and_write(spark, tmp_path, capsys):
    """The CLI surface: list filters by glob, run executes a registered
    query (bounded stdout by default, distributed write with --out)."""
    from etl_seattle_call_data_spark.__main__ import main

    assert main(["list", "events_*"]) == 0
    out = capsys.readouterr().out
    assert "events_by_type" in out

    dest = str(tmp_path / "cli_out")
    assert main([
        "run", "events_by_type", "--sf-dir", "/root/testdata/sf0.001",
        "--out", dest, "--format", "parquet",
    ]) == 0
    assert spark.read.parquet(dest).count() == 5

    assert main(["run", "no_such_query"]) == 2
