"""Seeded input generators for the benchmark workloads.

Everything here depends only on numpy, pandas and pyarrow, never on the
engine package, so a change to the engine cannot change its own inputs.

- :func:`feed_ticks` — GTFS-Realtime FeedMessage payloads, one per poll
  tick, in the public protobuf wire format.
- :func:`gtfs_static` — routes/trips/stops/stop_times CSVs with a
  TTC-like shape, scaled down.
- :func:`raw_lake` — a multi-day raw-zone lake in the engine's
  ``locations`` layout, each day split into many small per-tick files.
- :func:`registry_tables` — the TPC-H-ish star schema the query
  registry reads (same tables, columns and types as the engine's
  testdata loader expects).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import struct
import zoneinfo
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TZ = "America/Toronto"
TICK_S = 30
RADIUS = 0.0002  # degrees; the flagship's ST_DWithin radius
#: Share of vehicles that repeat their previous report's timestamp in a
#: poll.  The reference publishes no figure for it; this is an assumed
#: value, large enough that the ingest dedup drops rows every tick.
STALE = 0.1
_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _local_epoch(day: dt.date, secs: int = 0) -> int:
    start = dt.datetime(day.year, day.month, day.day, tzinfo=zoneinfo.ZoneInfo(TZ))
    return int(start.timestamp()) + secs


def seeded_day(rng: np.random.Generator) -> dt.date:
    """A day in June 2024 (no DST change nearby), chosen by the seed."""
    return dt.date(2024, 6, 1) + dt.timedelta(days=int(rng.integers(0, 20)))


# --- GTFS-Realtime wire format ---------------------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def encode_feed(rows: pd.DataFrame) -> bytes:
    """FeedMessage bytes: header + one VehiclePosition entity per row
    (trip_id, route_id, direction_id, lat/lon/bearing/speed, timestamp,
    vehicle id)."""
    f32 = struct.Struct("<f").pack
    out = bytearray(_ld(1, b"\x0a\x031.0"))
    for i, r in enumerate(rows.itertuples(index=False)):
        trip = (
            _ld(1, r.trip_id.encode())
            + _ld(5, r.route_id.encode())
            + b"\x30" + _varint(int(r.direction_id))
        )
        pos = (
            b"\x0d" + f32(r.latitude) + b"\x15" + f32(r.longitude)
            + b"\x1d" + f32(r.bearing) + b"\x2d" + f32(r.speed)
        )
        veh = (
            _ld(1, trip) + _ld(2, pos) + b"\x28" + _varint(int(r.timestamp))
            + _ld(8, _ld(1, r.vehicle_id.encode()))
        )
        out += _ld(2, _ld(1, str(i).encode()) + _ld(4, veh))
    return bytes(out)


@dataclass
class Tick:
    payload: bytes
    pairs: set[tuple[str, int]]  # distinct (vehicle_id, timestamp) sent
    n_vehicles: int


def feed_ticks(
    rng: np.random.Generator, n_ticks: int, n_vehicles: int, t0: int, stale: float = STALE
) -> list[Tick]:
    """``n_ticks`` consecutive polls of a fleet, ``TICK_S`` apart from
    epoch ``t0``.  A vehicle reports a fresh timestamp inside the tick's
    window, except that a ``stale`` share repeat their previous report's
    timestamp (a vehicle that did not update between polls), which the
    ingest dedup must drop."""
    ids = np.array([f"V{i:05d}" for i in range(n_vehicles)])
    routes = np.array([f"{r}" for r in rng.integers(5, 600, 200)])
    route_of = routes[rng.integers(0, len(routes), n_vehicles)]
    trip_of = np.array([f"{r}-{i % 97:03d}" for i, r in enumerate(route_of)])
    lat = rng.uniform(43.60, 43.80, n_vehicles)
    lon = rng.uniform(-79.60, -79.20, n_vehicles)
    last_ts = np.full(n_vehicles, -1, dtype=np.int64)
    ticks = []
    for k in range(n_ticks):
        base = t0 + k * TICK_S
        ts = base + rng.integers(0, TICK_S, n_vehicles)
        repeat = (rng.random(n_vehicles) < stale) & (last_ts >= 0)
        ts = np.where(repeat, last_ts, ts)
        last_ts = ts
        lat = lat + rng.normal(0, 0.0005, n_vehicles)
        lon = lon + rng.normal(0, 0.0005, n_vehicles)
        rows = pd.DataFrame(
            {
                "trip_id": trip_of,
                "route_id": route_of,
                "direction_id": rng.integers(0, 2, n_vehicles),
                "vehicle_id": ids,
                "latitude": lat,
                "longitude": lon,
                "bearing": rng.uniform(0, 360, n_vehicles),
                "speed": rng.uniform(0, 25, n_vehicles),
                "timestamp": ts,
            }
        )
        ticks.append(
            Tick(encode_feed(rows), set(zip(ids.tolist(), ts.tolist())), n_vehicles)
        )
    return ticks


# --- GTFS static ---------------------------------------------------------------


def _fmt_time(secs: int) -> str:
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


@dataclass
class Static:
    gtfs_dir: str
    stop_times: pd.DataFrame
    stops: pd.DataFrame
    trips: pd.DataFrame


def gtfs_static(
    rng: np.random.Generator, gtfs_dir: str, n_routes: int, n_trips: int, n_stops: int
) -> Static:
    """TTC-like static tables: mostly bus routes (3/700) with a few
    subway/streetcar routes the flagship filters out, ~15-30 stops per
    trip on a 05:00-25:00 service day (past-midnight times included)."""
    os.makedirs(gtfs_dir, exist_ok=True)
    routes = pd.DataFrame(
        {
            "route_id": [str(10 + i) for i in range(n_routes)],
            "route_short_name": [str(10 + i) for i in range(n_routes)],
            "route_type": rng.choice([3, 3, 3, 700, 700, 0, 1], n_routes),
        }
    )
    trips = pd.DataFrame(
        {
            "trip_id": [f"T{40000000 + i}" for i in range(n_trips)],
            "route_id": rng.choice(routes["route_id"], n_trips),
            "service_id": "1",
            "direction_id": rng.integers(0, 2, n_trips),
            "shape_id": [str(900000 + i % 300) for i in range(n_trips)],
        }
    )
    stops = pd.DataFrame(
        {
            "stop_id": [str(1000 + i) for i in range(n_stops)],
            "stop_name": [f"Stop {i}" for i in range(n_stops)],
            "stop_lat": rng.uniform(43.60, 43.80, n_stops).round(6),
            "stop_lon": rng.uniform(-79.60, -79.20, n_stops).round(6),
        }
    )
    parts = []
    for trip_id in trips["trip_id"]:
        k = int(rng.integers(15, 31))
        start = int(rng.integers(5 * 3600, 24 * 3600))
        secs = start + np.cumsum(rng.integers(60, 150, k))
        parts.append(
            pd.DataFrame(
                {
                    "trip_id": trip_id,
                    "arrival_time": [_fmt_time(int(s)) for s in secs],
                    "departure_time": [_fmt_time(int(s) + 15) for s in secs],
                    "stop_id": stops["stop_id"].to_numpy()[
                        rng.choice(n_stops, k, replace=False)
                    ],
                    "stop_sequence": np.arange(1, k + 1),
                }
            )
        )
    stop_times = pd.concat(parts, ignore_index=True)
    shapes = pd.DataFrame(
        {
            "shape_id": [str(900000 + i % 300) for i in range(3000)],
            "shape_pt_lat": rng.uniform(43.60, 43.80, 3000).round(6),
            "shape_pt_lon": rng.uniform(-79.60, -79.20, 3000).round(6),
            "shape_pt_sequence": np.tile(np.arange(10), 300),
        }
    )
    for name, df in (
        ("routes", routes),
        ("trips", trips),
        ("stops", stops),
        ("stop_times", stop_times),
        ("shapes", shapes),
    ):
        df.to_csv(os.path.join(gtfs_dir, f"{name}.txt"), index=False)
    return Static(gtfs_dir, stop_times, stops, trips)


# --- raw-zone lake ------------------------------------------------------------


def _geohash7(lat: np.ndarray, lon: np.ndarray) -> list[str]:
    lon_bits, lat_bits = 18, 17
    lon_i = np.minimum(np.floor((lon + 180.0) / 360.0 * (1 << lon_bits)), (1 << lon_bits) - 1)
    lat_i = np.minimum(np.floor((lat + 90.0) / 180.0 * (1 << lat_bits)), (1 << lat_bits) - 1)
    lon_i, lat_i = lon_i.astype(np.int64), lat_i.astype(np.int64)
    combined = np.zeros(len(lat), dtype=np.int64)
    for k in range(35):
        if k % 2 == 0:
            bit = (lon_i >> (lon_bits - 1 - k // 2)) & 1
        else:
            bit = (lat_i >> (lat_bits - 1 - k // 2)) & 1
        combined |= bit << (34 - k)
    digits = [(combined >> (5 * (6 - i))) & 31 for i in range(7)]
    alphabet = np.array(list(_BASE32))
    chars = np.stack([alphabet[d] for d in digits], axis=1)
    return ["".join(row) for row in chars]


def _lake_table(pings: pd.DataFrame) -> pa.Table:
    lat = pings["latitude"].to_numpy()
    lon = pings["longitude"].to_numpy()
    pack = struct.Struct("<BIdd").pack
    ts = pa.array(pings["timestamp"].to_numpy() * 1_000_000, pa.int64()).cast(
        pa.timestamp("us", tz="UTC")
    )
    bbox = pa.StructArray.from_arrays(
        [pa.array(lon), pa.array(lat), pa.array(lon), pa.array(lat)],
        names=["xmin", "ymin", "xmax", "ymax"],
    )
    return pa.table(
        {
            "trip_id": pa.array(pings["trip_id"], pa.string()),
            "route_id": pa.array(pings["route_id"], pa.string()),
            "direction_id": pa.array(pings["direction_id"], pa.string()),
            "vehicle_id": pa.array(pings["vehicle_id"], pa.string()),
            "latitude": pa.array(lat),
            "longitude": pa.array(lon),
            "bearing": pa.array(pings["bearing"].to_numpy()),
            "speed": pa.array(pings["speed"].to_numpy()),
            "timestamp": ts,
            "geohash": pa.array(_geohash7(lat, lon)),
            "bbox": bbox,
            "geometry": pa.array([pack(1, 1, x, y) for x, y in zip(lon, lat)], pa.binary()),
        }
    )


def _day_pings(
    rng: np.random.Generator, static: Static, day: dt.date, n_rows: int
) -> pd.DataFrame:
    """One service day of pings: ~70 % near scheduled stop events of
    the day's trips (deviations spread over ±15 min, so the flagship's
    ±10 min band bites), the rest far-off noise with some null trips."""
    st = static.stop_times
    hours = st["arrival_time"].str.slice(0, 2).astype(int)
    events = st[hours < 24].reset_index(drop=True)
    n_match = int(n_rows * 0.7)
    pick = rng.integers(0, len(events), n_match)
    ev = events.iloc[pick]
    arr = ev["arrival_time"]
    arr_secs = (
        arr.str.slice(0, 2).astype(int) * 3600
        + arr.str.slice(3, 5).astype(int) * 60
        + arr.str.slice(6, 8).astype(int)
    ).to_numpy()
    stop_xy = static.stops.set_index("stop_id").loc[ev["stop_id"]]
    r = rng.uniform(0, RADIUS * 0.7, n_match)
    theta = rng.uniform(0, 2 * np.pi, n_match)
    matched = pd.DataFrame(
        {
            "trip_id": ev["trip_id"].to_numpy(),
            "latitude": stop_xy["stop_lat"].to_numpy() + r * np.sin(theta),
            "longitude": stop_xy["stop_lon"].to_numpy() + r * np.cos(theta),
            "timestamp": _local_epoch(day) + arr_secs + rng.integers(-900, 901, n_match),
        }
    )
    n_noise = n_rows - n_match
    trip_ids = static.trips["trip_id"].to_numpy()
    noise = pd.DataFrame(
        {
            "trip_id": np.where(
                rng.random(n_noise) < 0.2, None, trip_ids[rng.integers(0, len(trip_ids), n_noise)]
            ),
            "latitude": rng.uniform(42.0, 43.0, n_noise),
            "longitude": rng.uniform(-81.0, -80.0, n_noise),
            "timestamp": _local_epoch(day) + rng.integers(0, 86400, n_noise),
        }
    )
    pings = pd.concat([matched, noise], ignore_index=True)
    # Pings can spill past local midnight; keep each day's own rows only.
    lo, hi = _local_epoch(day), _local_epoch(day + dt.timedelta(days=1))
    pings = pings[(pings["timestamp"] >= lo) & (pings["timestamp"] < hi)]
    pings = pings.sort_values("timestamp", kind="mergesort").reset_index(drop=True)
    route_of = dict(zip(static.trips["trip_id"], static.trips["route_id"]))
    pings["route_id"] = pings["trip_id"].map(route_of)
    pings["direction_id"] = rng.integers(0, 2, len(pings)).astype(str)
    pings["vehicle_id"] = [f"V{v:05d}" for v in rng.integers(0, 2000, len(pings))]
    pings["bearing"] = rng.uniform(0, 360, len(pings))
    pings["speed"] = rng.uniform(0, 25, len(pings))
    return pings


def raw_lake(
    rng: np.random.Generator,
    static: Static,
    root: str,
    days: list[dt.date],
    rows_per_day: int,
    files_per_day: int,
) -> dict[dt.date, int]:
    """Write the raw zone: per day, ``files_per_day`` time-ordered small
    snappy files under ``year=/month=/day=``.  Returns rows per day."""
    rows = {}
    for day in days:
        table = _lake_table(_day_pings(rng, static, day, rows_per_day))
        part = os.path.join(root, f"year={day.year}", f"month={day.month}", f"day={day.day}")
        os.makedirs(part, exist_ok=True)
        bounds = np.linspace(0, table.num_rows, files_per_day + 1).astype(int)
        for i in range(files_per_day):
            pq.write_table(
                table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                os.path.join(part, f"part-{i:05d}.snappy.parquet"),
                compression="snappy",
            )
        rows[day] = table.num_rows
    return rows


# --- registry star schema ------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 13
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts_us(rng, n, lo: str, hi: str, sort: bool = False) -> pa.Array:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b, n)
    if sort:
        v = np.sort(v)
    return pa.array(v, pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n, lo: str, ndays: int) -> pa.Array:
    base = np.datetime64(lo, "D").astype("datetime64[us]").astype(np.int64)
    v = base + rng.integers(0, ndays, n) * 86_400_000_000
    return pa.array(v, pa.int64()).cast(pa.timestamp("us"))


def registry_tables(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """The TPC-H-ish tables (plus events/documents/embeddings) at scale
    factor ``sf``, one parquet file each, with the column names, types
    and value domains the registry queries and their oracles rely on."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    # ~4 lines per order, line numbers unique within an order.
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    l_line = np.concatenate([rng.permutation(7)[:k] + 1 for k in per_order])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(l_line, i32),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", 2500),
        }
    )
    n_users = max(50, int(15_000 * sf))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(rng, n_ev, "2024-01-01", "2024-01-31", sort=True),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": _cents(np.maximum(rng.exponential(49.6, n_ev), 0.01)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    # Documents: 5 % are a copy of an earlier document plus " dup", so
    # the near-duplicate operators have something to find.
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))) for _ in range(n_docs)]
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    # Embeddings: 10 labelled clusters of unit vectors in 64 dimensions.
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
