"""Seeded inputs for the benchmark.

Two kinds of input, both pure functions of (seed, size):

* ``write_tables`` writes the ten gate tables (region ... embeddings) with
  the schemas and value distributions of the engine's testdata, so every
  registered gate and its DuckDB oracle run on them unchanged.
* ``signalk_records`` turns a generated ``events`` table into SignalK
  DataRecords: ``user_id % 4`` picks the vessel, ``event_type`` the path,
  ``view`` events also yield a ``navigation.position`` fix, and the
  ``error`` path carries an angle in radians.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = timezone.utc
EVENTS_START = datetime(2024, 1, 1, tzinfo=UTC)
EVENTS_DAYS = 30

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VESSELS = tuple(f"vessels.urn:mrn:imo:mmsi:23000000{i}" for i in range(4))
#: event_type -> SignalK path; "error" carries an angle (units rad)
PATH_OF = {
    "click": "navigation.speedOverGround",
    "view": "environment.depth.belowKeel",
    "purchase": "electrical.batteries.house.voltage",
    "signup": "environment.wind.speedApparent",
    "error": "navigation.headingTrue",
}
ANGULAR_PATH = PATH_OF["error"]
POSITION_PATH = "navigation.position"
UNITS_BY_PATH = {ANGULAR_PATH: "rad"}
SCALAR_PATHS = tuple(p for p in PATH_OF.values() if p != ANGULAR_PATH)

_WORDS = (
    "scan column window order sort part agg value line key join merge query "
    "group a vector hash slow stream filter fast the spark batch table small "
    "data big customer row"
).split()
_LANGS = ("en", "zh", "de", "es", "fr")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PTYPES = ("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
_ADJ = ("small", "blue", "cold", "old", "new", "hot", "red", "large")
_NOUN = ("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _ts_us(start: datetime, seconds: np.ndarray) -> pa.Array:
    """Naive (zone-less) timestamps ``start + seconds``, as the testdata
    stores them."""
    base = int(start.replace(tzinfo=UTC).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: datetime, hi: datetime) -> pa.Array:
    span = (hi - lo).days
    return _ts_us(lo, rng.integers(0, span + 1, n).astype(np.float64) * 86400)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten gate tables at scale ``sf`` (0.001 = 6,000 lineitem
    rows, like the testdata's smallest size)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(200, int(1_000_000 * sf))
    n_doc = 500 if sf < 0.1 else 5000
    n_emb = 500 if sf < 0.1 else 2000

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    lo, hi = datetime(1995, 1, 1), datetime(2001, 8, 1)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, lo, hi),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _days(rng, n_line, lo + timedelta(days=1), hi + timedelta(days=95)),
    })
    secs = np.sort(rng.uniform(0, EVENTS_DAYS * 86400 - 1, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(EVENTS_START.replace(tzinfo=None), secs),
        "user_id": pa.array(rng.integers(0, max(4, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.gamma(2.0, 50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


# --- SignalK DataRecords -------------------------------------------------

_RECORD_FIELDS = [
    ("received_timestamp", pa.timestamp("us", tz="UTC")),
    ("signalk_timestamp", pa.timestamp("us", tz="UTC")),
    ("context", pa.string()),
    ("path", pa.string()),
    ("value", pa.float64()),
    ("value_text", pa.string()),
    ("value_bool", pa.bool_()),
    ("value_json", pa.string()),
    ("source", pa.string()),
    ("source_label", pa.string()),
    ("source_type", pa.string()),
    ("source_pgn", pa.float64()),
    ("source_src", pa.string()),
    ("meta", pa.string()),
    ("value_latitude", pa.float64()),
    ("value_longitude", pa.float64()),
]
RECORD_SCHEMA = pa.schema(_RECORD_FIELDS)


def signalk_records(seed: int, n_events: int) -> pa.Table:
    """DataRecords derived from a seeded ``events`` table of ``n_events``
    rows over 30 days, sorted by time. Timestamps are whole milliseconds and
    unique per (context, path) second, so ingest debouncing keeps every row."""
    rng = np.random.default_rng(seed)
    secs = np.sort(rng.choice(EVENTS_DAYS * 86400, n_events, replace=False)).astype(np.int64)
    ms = secs * 1000 + rng.integers(0, 1000, n_events)
    ctx = np.array(VESSELS)[rng.integers(0, 4096, n_events) % 4]
    etype = rng.choice(EVENT_TYPES, n_events)
    value = np.round(rng.gamma(2.0, 50.0, n_events), 2)
    paths = np.array([PATH_OF[e] for e in etype], dtype=object)
    value = np.where(etype == "error", np.round(np.mod(value / 40.0, 2 * math.pi), 6), value)

    view = etype == "view"
    n_pos = int(view.sum())
    track = np.cumsum(rng.normal(0, 1e-3, (n_pos, 2)), axis=0)
    lat = np.round(59.0 + track[:, 0], 6)
    lon = np.round(10.5 + track[:, 1], 6)
    all_ms = np.concatenate([ms, ms[view] + 1])
    all_ctx = np.concatenate([ctx, ctx[view]])
    all_path = np.concatenate([paths, np.full(n_pos, POSITION_PATH, dtype=object)])
    all_val = np.concatenate([value, np.full(n_pos, np.nan)])
    all_lat = np.concatenate([np.full(n_events, np.nan), lat])
    all_lon = np.concatenate([np.full(n_events, np.nan), lon])
    order = np.argsort(all_ms, kind="stable")

    n = len(order)
    ts = pa.array((int(EVENTS_START.timestamp() * 1000) + all_ms[order]) * 1000,
                  pa.timestamp("us", tz="UTC"))
    is_pos = all_path[order] == POSITION_PATH
    pos_json = [
        json.dumps({"latitude": float(a), "longitude": float(b)}, separators=(",", ":"), sort_keys=True)
        if p else None
        for p, a, b in zip(is_pos, all_lat[order], all_lon[order])
    ]
    meta = np.where(all_path[order] == ANGULAR_PATH, '{"units":"rad"}', None)
    labels = rng.choice(["gps-1", "gps-2"], n)
    return pa.table({
        "received_timestamp": ts,
        "signalk_timestamp": ts,
        "context": pa.array(all_ctx[order].tolist(), pa.string()),
        "path": pa.array(all_path[order].tolist(), pa.string()),
        "value": pa.array(all_val[order], pa.float64(), mask=np.isnan(all_val[order])),
        "value_text": pa.nulls(n, pa.string()),
        "value_bool": pa.nulls(n, pa.bool_()),
        "value_json": pa.array(pos_json, pa.string()),
        "source": pa.array([f'{{"label":"{s}"}}' for s in labels], pa.string()),
        "source_label": pa.array(labels.tolist(), pa.string()),
        "source_type": pa.array(["NMEA2000"] * n, pa.string()),
        "source_pgn": pa.array(np.full(n, 129026.0)),
        "source_src": pa.array(["115"] * n, pa.string()),
        "meta": pa.array(meta.tolist(), pa.string()),
        "value_latitude": pa.array(all_lat[order], pa.float64(), mask=np.isnan(all_lat[order])),
        "value_longitude": pa.array(all_lon[order], pa.float64(), mask=np.isnan(all_lon[order])),
    }, schema=RECORD_SCHEMA)


def write_daily_files(records: pa.Table, out_dir: str) -> dict[int, str]:
    """One parquet file per UTC day, the way a logger rotates its record
    files (flat, so a file stream infers no partition column). Returns day
    index -> file path."""
    ts = records.column("signalk_timestamp").cast(pa.int64()).to_numpy()
    day = (ts - int(EVENTS_START.timestamp() * 1_000_000)) // 86_400_000_000
    os.makedirs(out_dir, exist_ok=True)
    files = {}
    for d in np.unique(day):
        path = os.path.join(out_dir, f"records-day{int(d):02d}.parquet")
        pq.write_table(records.filter(pa.array(day == d)), path)
        files[int(d)] = path
    return files


def day_start(d: int) -> datetime:
    return EVENTS_START + timedelta(days=d)
