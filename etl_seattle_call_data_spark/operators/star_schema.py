"""Star-schema split.

The reference splits the transformed wide table into 1 fact + 5 dimension
tables by column projection and writes each with ``coalesce(1)``
(/root/reference/ETL_Pipeline_Batch/load.py:95-196). Column specs are
preserved verbatim, and so are the reference's 1:1 semantics: each
dimension is a vertical partition of the fact, not deduplicated
(SURVEY §7.4.2). The split is a per-table column projection, so each
write job's scan reads only its table's columns of the wide frame; the
writes themselves go through ``sinks.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Verbatim table → column specs (reference load.py:99-173).
STAR_TABLES: dict[str, list[str]] = {
    "fact_call": [
        "call_sign_dispatch_time",
        "call_sign_dispatch_delay_time_s",
        "call_sign_response_time_s",
        "call_sign_total_service_time_s",
        "dim_care_spd_id",
        "dim_co_response_id",
        "dim_cad_event_id",
        "dim_location_id",
        "dim_call_sign_id",
    ],
    "dim_care_spd": [
        "call_sign_dispatch_id",
        "dim_care_spd_id",
        "first_response_dispatch_time",
        "last_response_in_service_time",
        "first_response_time_s",
        "dispatch_delay_time_s",
        "first_response_at_scene_time",
    ],
    "dim_co_response": [
        "call_sign_dispatch_id",
        "dim_co_response_id",
        "first_co_response_call_sign_at_scene_time",
        "first_co_response_call_sign_dispatch_time",
        "last_co_response_call_sign_in_service_time",
        "first_co_response_call_sign_dispatch_delay_time_s",
        "first_co_response_call_sign_response_time_s",
    ],
    "dim_cad_event": [
        "call_sign_dispatch_id",
        "dim_cad_event_id",
        "priority",
        "cad_event_number",
        "cad_event_clearance_description",
        "call_type",
        "initial_call_type",
        "final_call_type",
        "cad_event_response_category",
        "cad_event_original_time_queued",
        "call_type_received_classification",
        "cad_event_arrived_time",
        "call_type_indicator",
        "unit_id",
        "cad_event_first_response_time_s",
    ],
    "dim_location": [
        "call_sign_dispatch_id",
        "dim_location_id",
        "dispatch_precinct",
        "dispatch_sector",
        "dispatch_beat",
        "dispatch_neighborhood",
    ],
    "dim_call_sign": [
        "call_sign_dispatch_id",
        "dim_call_sign_id",
        "call_sign_dispatch_time",
        "call_sign_at_scene_time",
        "call_sign_in_service_time",
    ],
}


def split_star_schema(df: DataFrame) -> dict[str, DataFrame]:
    """Project the wide transformed table into the 6 star tables, one
    row per fact row in each (the reference's 1:1 semantics)."""
    return {name: df.select(*cols) for name, cols in STAR_TABLES.items()}


def join_star(tables: dict[str, DataFrame]) -> DataFrame:
    """Re-assemble the wide view from the star tables — the consumption
    pattern the reference delegates to the warehouse (reference
    README.md:66-82). Dimensions are broadcast (small side of each join)."""
    out = tables["fact_call"]
    for dim in ("dim_care_spd", "dim_co_response", "dim_cad_event", "dim_location", "dim_call_sign"):
        key = f"{dim}_id"
        # keep the conformed key from the first dim only; drop any column
        # the accumulated view already carries to avoid name ambiguity
        d = tables[dim]
        dupes = [c for c in d.columns if c in out.columns and c != key]
        out = out.join(F.broadcast(d.drop(*dupes)), key, "inner")
    return out
