"""Seeded input generators for the benchmark.

Two families, both written with pyarrow so that making inputs never touches
the engine under test:

- ``write_star_schema``: the TPC-H-ish star schema plus ``events``, one
  parquet file per table. It is the generator of the engine's test fixtures
  (TESTDATA.md) draw for draw: with the fixtures' seed, 42, it writes
  tables equal to theirs, column types included (timestamps are
  TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``).
- ``write_hotel_weather``: the reference's hotel-weather table in the Hive
  ``year=/month=/day=`` layout, about ten small files per day.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The order of each domain list is part of the generator: ``rng.choice``
# maps a draw to a list position.
FIXTURE_SEED = 42
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ORDER_STATUS = ["O", "F", "P"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_RETURN_FLAGS = ["R", "A", "N"]
_LINE_STATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_US_PER_DAY = 86_400_000_000


def _days_us(start: dt.date, n_days: int, rng, size: int) -> np.ndarray:
    base = (start - dt.date(1970, 1, 1)).days
    return (base + rng.integers(0, n_days, size)).astype("int64") * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(
    out_dir: str, seed: int = FIXTURE_SEED, sf: float = 0.01
) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem and
    events at scale factor ``sf``; return the row count of each table. All
    tables draw from one generator, in the order written here."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)

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
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(_ORDER_STATUS, n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_days_us(dt.date(1995, 1, 1), 2405, rng, n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": _money(rng, 0, 0.1, n_li),
        "l_tax": _money(rng, 0, 0.08, n_li),
        "l_returnflag": rng.choice(_RETURN_FLAGS, n_li),
        "l_linestatus": rng.choice(_LINE_STATUS, n_li),
        "l_shipdate": _ts(_days_us(dt.date(1995, 1, 2), 2499, rng, n_li)),
    })
    # event times are drawn in seconds, made nanoseconds and stored in
    # microseconds, each step truncating, as the fixtures' were
    t0_ns = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY * 1000
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ts = (t0_ns + (secs * 1e9).astype("int64")) // 1000
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
    }


# Hotel-weather (FIXTURES.md section A). Every hotel of the twelve largest
# cities reports every day, and their sizes are at least 8% apart, so the
# per-city peak of distinct hotels orders those cities strictly: the top 10
# is then one well-defined answer even though the ranking has no tie-break
# below distinct_hotels.
_COUNTRIES = ["US", "NL", "ES", "FR", "IT", "GB", "AT"]
_TOP_CITY_SIZES = [96, 86, 78, 71, 64, 58, 53, 48, 44, 40, 36, 33]
_N_SMALL_CITIES = 60
_SMALL_CITY_MAX = 30  # exclusive: every other city is smaller than the 11th


def write_hotel_weather(
    out_root: str, seed: int, n_days: int, files_per_day: int = 10,
    start: dt.date = dt.date(2016, 10, 1),
) -> list[tuple[dt.date, int]]:
    """Write ``n_days`` day-partitions under ``out_root``; return each day
    with its row count, in date order."""
    rng = np.random.default_rng(seed)
    sizes = list(_TOP_CITY_SIZES) + list(rng.integers(4, _SMALL_CITY_MAX, _N_SMALL_CITIES))
    city_names = [f"City{seed % 1000:03d}_{i:03d}" for i in range(len(sizes))]
    rng.shuffle(city_names)
    h_city = np.repeat(np.arange(len(sizes)), sizes)
    n_hotels = len(h_city)
    h_id = rng.choice(np.arange(10**9, 10**10, 7919), n_hotels, replace=False)
    h_country = rng.choice(_COUNTRIES, len(sizes))[h_city]
    h_lat = np.round(rng.uniform(-60, 70, n_hotels), 6)
    h_lon = np.round(rng.uniform(-179, 179, n_hotels), 6)
    h_geo = ["".join(rng.choice(list("0123456789bcdefghjkmnpqrstuvwxyz"), 4))
             for _ in range(n_hotels)]
    always = h_city < len(_TOP_CITY_SIZES)
    out = []
    for d in range(n_days):
        day = start + dt.timedelta(days=d)
        rows = np.flatnonzero(always | (rng.random(n_hotels) < 0.7))
        tc = np.round(rng.normal(13, 8, len(rows)), 1)
        cols = {
            "address": [f"Hotel {h_id[i]}" for i in rows],
            "avg_tmpr_c": tc,
            "avg_tmpr_f": np.round(tc * 9 / 5 + 32, 1),
            "city": [city_names[h_city[i]] for i in rows],
            "country": h_country[rows],
            "geoHash": [h_geo[i] for i in rows],
            "id": [str(h_id[i]) for i in rows],
            "latitude": h_lat[rows],
            "longitude": h_lon[rows],
            "name": [f"{i % 997} Main Street" for i in rows],
            "wthr_date": [day.isoformat()] * len(rows),
        }
        table = pa.table(cols)
        ddir = os.path.join(
            out_root, f"year={day.year}", f"month={day.month:02d}",
            f"day={day.day:02d}",
        )
        os.makedirs(ddir)
        bounds = np.linspace(0, len(rows), files_per_day + 1).astype(int)
        for f in range(files_per_day):
            pq.write_table(
                table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                os.path.join(ddir, f"part-{f:05d}.snappy.parquet"),
            )
        out.append((day, len(rows)))
    return out
