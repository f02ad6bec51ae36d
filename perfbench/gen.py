"""Deterministic input generators for the benchmark.

Everything the engine reads during a run is made here, inside the
checkout, from a seed:

* ``write_tables(out_dir, sf, seed)`` — the ten base tables the query
  registry reads (TPC-H-like star plus ``events``, ``documents`` and
  ``embeddings``), with the same names, arrow types and value ranges as
  the project's shared test data, at any scale factor. Row counts scale
  linearly with ``sf`` (lineitem = 6M x sf), so sf1 is exactly 10x the
  sf0.1 set and every join fan-out stays per-row constant.
* ``write_cad_csv(path, rows, seed)`` — a Seattle CAD dispatch CSV that
  mixes every branch of the batch transform (AM/PM and 24-hour times,
  null arrivals, null in-service cascades, SPD/CARE nulls, multi-dispatch
  events) and returns the star-table row count the transform must keep.
* ``stream_records(n, seed)`` — call records for the Kafka-like stream:
  mostly new event numbers in arrival order plus re-sends of recent ones.

Only numpy's ``default_rng`` (PCG64, stable across numpy versions) is used,
seeded per table, so the same seed always writes byte-identical data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Bump when any generator's output changes: it keys the input cache.
VERSION = 2

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table): adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream[:6]))])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _table_rows(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random 10-100 word texts over a 30-word vocabulary; one in twenty
    is a near duplicate (another document's text plus the word ``dup``,
    the source drawn from all documents), which is what the
    dedup/similarity family looks for."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = _table_rows(sf)
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    r = _rng(seed, "custom")
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(r, SEGMENTS, nc),
        }
    )
    r = _rng(seed, "suppli")
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, ns),
        }
    )
    r = _rng(seed, "part")
    npart = n["part"]
    keys = np.arange(npart)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(r, names, npart),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(r, PART_TYPES, npart),
            "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
        }
    )
    r = _rng(seed, "orders")
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], no),
            "o_totalprice": _money(r, 1000.0, 500_000.0, no),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _pick(r, PRIORITIES, no),
        }
    )
    r = _rng(seed, "lineit")
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": r.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(r, 900.0, 105_000.0, nl),
            "l_discount": np.round(r.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": _pick(r, ["A", "N", "R"], nl),
            "l_linestatus": _pick(r, ["F", "O"], nl),
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", nl),
        }
    )
    r = _rng(seed, "events")
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 10**6, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, int(15_000 * sf)), ne), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, ne),
            "value": np.round(r.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(_rng(seed, "docume"), n["documents"])
    out["embeddings"] = _embeddings(_rng(seed, "embedd"), n["embeddings"])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten base tables as ``<out_dir>/<table>.parquet`` (one
    snappy file each, like the shared test data) and return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        counts[name] = tbl.num_rows
    return counts


# ------------------------------------------------------------- CAD dispatch CSV

CAD_HEADER = [
    "CAD Event Number", "Call Sign Dispatch ID", "Call Type", "Initial Call Type",
    "Final Call Type", "Priority", "CAD Event Clearance Description",
    "CAD Event Response Category", "Call Type Indicator",
    "Call Type Received Classification", "Dispatch Precinct", "Dispatch Sector",
    "Dispatch Beat", "Dispatch Neighborhood", "Dispatch Longitude",
    "Dispatch Latitude", "Dispatch Reporting Area",
    "CAD Event Original Time Queued", "CAD Event Arrived Time",
    "Call Sign Dispatch Time", "Call Sign at Scene Time", "Call Sign In-Service Time",
    "First CARE Call Sign At Scene Time", "First CARE Call Sign Dispatch Time",
    "First SPD Call Sign at Scene Time", "First SPD Call Sign Dispatch Time",
    "First Co-Response Call Sign At Scene Time",
    "First Co-Response Call Sign Dispatch Time",
    "Last CARE Call Sign In-Service Time", "Last Co-Response Call Sign In-Service Time",
    "Last SPD Call Sign In-Service Time", "CARE Call Sign Total Service Time (s)",
    "SPD Call Sign Total Service Time (s)",
    "First CARE Call Sign Dispatch Delay Time (s)",
    "First SPD Call Sign Dispatch Delay Time (s)",
    "First CARE Call Sign Response Time (s)", "First SPD Call Sign Response Time (s)",
    "First Co-Response Call Sign Dispatch Delay Time (s)",
    "First Co-Response Call Sign Response Time (s)",
    "Call Sign Dispatch Delay Time (s)", "Call Sign Response Time (s)",
    "Call Sign Total Service Time (s)", "CAD Event First Response Time (s)",
]
_CALL_TYPES = ["911", "ONVIEW", "TELEPHONE OTHER", "ALARM CALL"]
_INITIAL = ["DISTURBANCE", "THEFT", "TRAFFIC", "ASSIST", "SUSPICIOUS"]
_PRECINCTS = ["NORTH", "SOUTH", "EAST", "WEST", "SOUTHWEST"]
_SECTORS = ["KING", "LINCOLN", "MARY", "NORA", "UNION", "BOY", "DAVID"]


def _times(epoch_s: np.ndarray, ampm: np.ndarray) -> pa.Array:
    """Seconds since epoch -> 'MM/dd/yyyy hh:mm:ss AM' on ``ampm`` rows
    and the 24-hour 'MM/dd/yyyy HH:mm:ss' form elsewhere."""
    t = pa.array(epoch_s.astype("datetime64[s]"), pa.timestamp("s"))
    return pc.if_else(
        pa.array(ampm),
        pc.strftime(t, format="%m/%d/%Y %I:%M:%S %p"),
        pc.strftime(t, format="%m/%d/%Y %H:%M:%S"),
    )


def _text(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _null_where(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    return pc.if_else(pa.array(mask), pa.scalar(None, arr.type), arr)


def cad_table(rows: int, seed: int) -> tuple[pa.Table, int]:
    """The CAD CSV as an all-string table (null = empty field) and the
    number of rows the transform keeps in every star table.

    Shape: events of 1-3 dispatch rows. Per row, 30% of timestamps are
    24-hour; 2% of rows have no arrival time (row dropped); 1% have no
    in-service time (the whole event dropped); SPD and CARE columns are
    null on disjoint halves; 5% of priorities and sectors are null."""
    rng = _rng(seed, "cadcsv")
    per_event = rng.integers(1, 4, rows)
    event_idx = np.repeat(np.arange(rows), per_event)[:rows]
    unit = np.concatenate([np.arange(k) for k in per_event])[:rows]
    event = _text(2_024_000_000 + event_idx)
    queued = 1_704_067_200 + event_idx * 37 + rng.integers(0, 30, rows)
    ampm = rng.random(rows) >= 0.3

    def ts(offset) -> pa.Array:
        return _times(queued + offset, ampm)

    call_type = _pick(rng, _CALL_TYPES, rows)
    col: dict[str, pa.Array] = {
        "CAD Event Number": event,
        "Call Sign Dispatch ID": pc.binary_join_element_wise(
            "U", pc.utf8_lpad(_text(unit), 2, "0"), event, ""
        ),
        "Call Type": call_type,
        "Initial Call Type": _pick(rng, _INITIAL, rows),
        "Final Call Type": _pick(rng, _INITIAL, rows),
        "Priority": _null_where(_text(rng.integers(1, 10, rows)), rng.random(rows) < 0.05),
        "CAD Event Clearance Description": _pick(rng, ["REPORT WRITTEN"], rows),
        "CAD Event Response Category": _pick(rng, ["ALPHA", "BRAVO", "CHARLIE"], rows),
        "Call Type Indicator": call_type,
        "Call Type Received Classification": _pick(rng, ["CALL"], rows),
        "Dispatch Precinct": _pick(rng, _PRECINCTS, rows),
        "Dispatch Sector": _null_where(_pick(rng, _SECTORS, rows), rng.random(rows) < 0.05),
        "Dispatch Beat": pc.binary_join_element_wise("B", _text(rng.integers(1, 60, rows)), ""),
        "Dispatch Neighborhood": pc.binary_join_element_wise(
            "HOOD", _text(rng.integers(0, 50, rows)), ""
        ),
        "Dispatch Longitude": _text(np.round(rng.uniform(-122.45, -122.25, rows), 5)),
        "Dispatch Latitude": _text(np.round(rng.uniform(47.5, 47.75, rows), 5)),
        "Dispatch Reporting Area": _text(rng.integers(1000, 9999, rows)),
    }
    dispatch = 60 + unit * 30 + rng.integers(0, 120, rows)
    scene = dispatch + 120 + rng.integers(0, 900, rows)
    service = scene + 600 + rng.integers(0, 3600, rows)
    no_arrival = rng.random(rows) < 0.02
    no_service = rng.random(rows) < 0.01
    col["CAD Event Original Time Queued"] = ts(0)
    col["CAD Event Arrived Time"] = _null_where(ts(30), no_arrival)
    col["Call Sign Dispatch Time"] = ts(dispatch)
    col["Call Sign at Scene Time"] = _null_where(ts(scene), rng.random(rows) < 0.10)
    col["Call Sign In-Service Time"] = _null_where(ts(service), no_service)
    spd = rng.random(rows) < 0.5
    for agency, missing in (("SPD", ~spd), ("CARE", spd)):
        at_scene = "at Scene" if agency == "SPD" else "At Scene"
        fields = {
            f"First {agency} Call Sign {at_scene} Time": ts(scene - 20),
            f"First {agency} Call Sign Dispatch Time": ts(dispatch + 10),
            f"Last {agency} Call Sign In-Service Time": ts(service - 30),
            f"{agency} Call Sign Total Service Time (s)": _text(service - dispatch),
            f"First {agency} Call Sign Dispatch Delay Time (s)": _text(dispatch),
            f"First {agency} Call Sign Response Time (s)": _text(scene - 20),
        }
        for name, vals in fields.items():
            col[name] = _null_where(vals, missing)
    col["First Co-Response Call Sign At Scene Time"] = ts(scene + 60)
    col["First Co-Response Call Sign Dispatch Time"] = ts(dispatch + 40)
    col["Last Co-Response Call Sign In-Service Time"] = ts(service + 60)
    col["First Co-Response Call Sign Dispatch Delay Time (s)"] = _text(dispatch + 40)
    col["First Co-Response Call Sign Response Time (s)"] = _text(scene + 60)
    col["Call Sign Dispatch Delay Time (s)"] = _text(dispatch)
    col["Call Sign Response Time (s)"] = _null_where(_text(scene), rng.random(rows) < 0.1)
    col["Call Sign Total Service Time (s)"] = _text(service - dispatch)
    col["CAD Event First Response Time (s)"] = _text(scene)

    # arrivals are filtered before the in-service cascade, so a dropped
    # row cannot taint its event
    tainted = np.zeros(rows, bool)
    tainted[event_idx[no_service & ~no_arrival]] = True
    kept = int(np.count_nonzero(~no_arrival & ~tainted[event_idx]))
    return pa.table({h: col[h] for h in CAD_HEADER}), kept


def write_cad_csv(path: str, rows: int, seed: int) -> int:
    """Write the CAD CSV and return the expected star-table row count."""
    table, kept = cad_table(rows, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))
    return kept


# ------------------------------------------------------------ stream records

def stream_records(n: int, seed: int, resend_frac: float = 0.2) -> list[dict]:
    """``n`` call records in publish order. Most carry a new
    ``cad_event_number``; ``resend_frac`` of them re-send one of the last
    200 events with new duration strings. ``processed_at`` strictly
    increases, so the last record sent for a key is also its newest."""
    rng = _rng(seed, "stream")
    t0 = dt.datetime(2024, 5, 1)
    out: list[dict] = []
    next_event = 0
    for i in range(n):
        if next_event and rng.random() < resend_frac:
            ev = next_event - 1 - int(rng.integers(0, min(200, next_event)))
        else:
            ev, next_event = next_event, next_event + 1
        secs = int(rng.integers(30, 4000))
        when = t0 + dt.timedelta(seconds=i)
        out.append(
            {
                "cad_event_number": f"{2024500000 + ev}",
                "call_type": "911",
                "priority": str(int(rng.integers(1, 10))),
                "dispatch_sector": _SECTORS[int(rng.integers(0, len(_SECTORS)))],
                "call_sign_dispatch_id": f"U{i % 7:02d}{2024500000 + ev}",
                "call_sign_dispatch_time": when.strftime("%Y-%m-%dT%H:%M:%S"),
                "call_sign_total_service_time_s_": f"~{secs} s",
                "call_sign_response_time_s_": f"{secs // 3}s",
                "processed_at": when.strftime("%Y-%m-%dT%H:%M:%S.000000"),
            }
        )
    return out
