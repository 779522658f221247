"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from the
``--seed``: the star-schema tables the registry entries scan, and the
reference-shaped telemetry CSV the ``TelemetryEngine`` ingests. The
same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- star-schema tables (the layout the registry's loaders expect) -------

# Customers in the co-purchase path planted by write_star_tables.
CHAIN = 20

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "green", "small", "hot", "large", "black", "white", "cold", "tiny", "bright", "dark", "steel"]
_PART_NOUN = ["anvil", "widget", "ring", "bolt", "gear", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a the big small fast slow data table row column key value query scan filter join "
    "hash sort merge window group agg order line part customer spark stream batch vector"
).split()


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array((days_from_epoch * 86_400_000_000).astype("int64"), type=pa.timestamp("us"))


def _days(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype("int64"))


def write_star_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables as single parquet files under ``out_dir``.
    Row counts scale with ``sf`` like the headline suite's testdata
    (lineitem ~ 6M x sf).

    The tables also hold a path of ``CHAIN`` customers in the co-purchase
    graph: customers n_cust + i and n_cust + i + 1 are the only buyers of
    part n_part + i, in one week, and buy nothing else. graph_k_core's
    k=2 peel removes the path's two ends every round, so its graph
    changes in all six rounds and the peel never exits early. Without
    the path the exit round, and with it the entry's job count (29 to
    41), depends on the seed."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    links = CHAIN - 1
    c_all, p_all, o_all, l_all = n_cust + CHAIN, n_part + links, n_ord + 2 * links, n_line + 2 * links

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(c_all, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c_all)],
        "c_nationkey": pa.array(rng.integers(0, 25, c_all), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c_all), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, c_all),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(p_all) % 1000) * 0.1, 1)
    put("part", {
        "p_partkey": np.arange(p_all, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, p_all), rng.choice(_PART_NOUN, p_all))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p_all)],
        "p_type": rng.choice(_PART_TYPES, p_all),
        "p_size": pa.array(rng.integers(1, 51, p_all), pa.int32()),
        "p_retailprice": retail,
    })
    d0, d1 = _days("1995-01-01"), _days("2001-08-01")
    # the path's orders: link i is one order by each of its two customers
    # on one day, each with one line of part n_part + i shipped the next day
    ends = np.stack([np.arange(links), np.arange(1, CHAIN)], axis=1).ravel()
    odate = np.concatenate([rng.integers(d0, d1 + 1, n_ord), np.full(2 * links, d0 + 365)])
    put("orders", {
        "o_orderkey": np.arange(o_all, dtype="int64"),
        "o_custkey": np.concatenate([rng.integers(0, n_cust, n_ord), n_cust + ends]),
        "o_orderstatus": rng.choice(["F", "O", "P"], o_all),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, o_all), 2),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, o_all),
    })
    l_ord = np.concatenate([rng.integers(0, n_ord, n_line), n_ord + np.arange(2 * links)])
    l_part = np.concatenate([rng.integers(0, n_part, n_line), n_part + np.repeat(np.arange(links), 2)])
    ship = np.concatenate([rng.integers(1, 122, n_line), np.ones(2 * links, dtype="int64")])
    qty = rng.integers(1, 51, l_all).astype("float64")
    put("lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, l_all),
        "l_linenumber": pa.array(rng.integers(1, 8, l_all), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.98, 1.02, l_all), 2),
        "l_discount": np.round(rng.integers(0, 11, l_all) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, l_all) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], l_all),
        "l_linestatus": rng.choice(["F", "O"], l_all),
        "l_shipdate": _ts_us(odate[l_ord] + ship),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + _days("2024-01-01") * 86_400_000_000
    put("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ev_us.astype("int64"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(30.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(_WORDS, int(n))) for n in rng.integers(8, 90, n_docs)]
    put("documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.1, 0.6, 0.1, 0.1, 0.1]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })


# --- reference-shaped telemetry ------------------------------------------

CSV_HEADER = [
    "MachineID", "Type", "Location", "Timestamp", "EngineTemperature",
    "FuelConsumption", "VibrationLevel", "Humidity", "Pressure",
    "PowerOutput", "OperatingHours", "Status",
]
SENSORS = [
    "enginetemperature", "fuelconsumption", "vibrationlevel", "humidity",
    "pressure", "poweroutput", "operatinghours",
]
# Null-fill defaults the ingest path applies (schemas.TELEMETRY_FILL);
# restated so the expected values do not come from the code under test.
FILL = {
    "enginetemperature": 75.0, "fuelconsumption": 10.0, "vibrationlevel": 3.0,
    "humidity": 65.0, "pressure": 950.0, "poweroutput": 200.0,
    "operatinghours": 0.0, "status": "Unknown",
}
STATUSES = ["Active", "Fault", "Idle", "Maintenance"]
_TYPES = ["Loader", "Excavator", "Crane", "Drill", "Hauler"]
_SITES = ["Site A", "Site B", "Site C", "Site D", "Site E"]
START = np.datetime64("2025-09-01T00:00", "m")
NULL_RATE = 0.01


@dataclass
class Telemetry:
    """A generated telemetry batch: the raw CSV text as written and the
    rows the ingest path must store (nulls filled, canonical names)."""

    csv_path: str
    csv_bytes: int
    clean: pd.DataFrame  # canonical column names, fills applied


def machine_ids(n: int) -> list[str]:
    return [f"M{i:04d}" for i in range(1, n + 1)]


def telemetry_frame(rng: np.random.Generator, n_machines: int, n_hours: int) -> pd.DataFrame:
    """Raw sensor rows (NaN = a NULL in the CSV), one per machine-hour,
    plus ~0.5% exact duplicate rows and ~0.5% out-of-bounds humidity.
    Sensor values carry at most two decimals so aggregates are exact."""
    ids = machine_ids(n_machines)
    m = np.repeat(np.arange(n_machines), n_hours)
    h = np.tile(np.arange(n_hours), n_machines)
    n = len(m)
    df = pd.DataFrame({
        "machineid": np.array(ids)[m],
        "type": np.array(_TYPES)[m % len(_TYPES)],
        "location": np.array(_SITES)[(m // 7) % len(_SITES)],
        "timestamp": START + h.astype("timedelta64[h]"),
        "enginetemperature": np.round(rng.normal(80.0, 8.0, n), 1),
        "fuelconsumption": np.round(rng.uniform(5.0, 25.0, n), 2),
        "vibrationlevel": np.round(rng.gamma(4.0, 0.8, n), 2),
        "humidity": np.round(rng.uniform(20.0, 95.0, n), 1),
        "pressure": np.round(rng.normal(1000.0, 30.0, n), 1),
        "poweroutput": np.round(rng.uniform(100.0, 400.0, n), 1),
        "operatinghours": (h + 1).astype("float64"),
        "status": rng.choice(STATUSES, n, p=[0.6, 0.1, 0.2, 0.1]).astype(object),
    })
    oob = rng.random(n) < 0.005
    df.loc[oob, "humidity"] = rng.choice([-0.5, 0.0, 101.5, 120.0], int(oob.sum()))
    for c in SENSORS:
        df.loc[rng.random(n) < NULL_RATE, c] = np.nan
    df.loc[rng.random(n) < NULL_RATE / 2, "status"] = None
    # exact duplicate rows (the DISTINCT-ON tie case), never at a
    # machine's last hour so the single-row latest read stays unique
    dup = np.flatnonzero((rng.random(n) < 0.005) & (h < n_hours - 1))
    return pd.concat([df, df.iloc[dup]], ignore_index=True)


def csv_timestamps(ts: pd.Series) -> pd.Series:
    """``M/d/yyyy H:mm``, the reference CSV format."""
    return (
        ts.dt.month.astype(str) + "/" + ts.dt.day.astype(str) + "/" + ts.dt.year.astype(str)
        + " " + ts.dt.hour.astype(str) + ":" + ts.dt.minute.map("{:02d}".format)
    )


def clean_rows(raw: pd.DataFrame) -> pd.DataFrame:
    """What the ingest path must store for ``raw``: fills applied and
    the epoch derived."""
    out = raw.fillna(FILL)
    out["timestamp_epoch"] = (out["timestamp"].values.astype("datetime64[s]").astype("int64"))
    return out


def write_telemetry_csv(path: str, raw: pd.DataFrame) -> Telemetry:
    out = raw.copy()
    out["timestamp"] = csv_timestamps(out["timestamp"])
    out.columns = CSV_HEADER
    os.makedirs(os.path.dirname(path), exist_ok=True)
    out.to_csv(path, index=False, na_rep="")
    return Telemetry(path, os.path.getsize(path), clean_rows(raw))
