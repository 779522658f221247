"""pandas recomputation of the engine's seven ``get_*`` reads.

The expected answer of every serve request is computed here from the
generated rows (plus the rows the run inserted), independently of the
Spark plans, and compared with what the engine returned.
"""

from __future__ import annotations

import math

import pandas as pd

DEDUP_COLS = [
    "machineid", "timestamp_epoch", "enginetemperature", "humidity",
    "vibrationlevel", "fuelconsumption", "status",
]
_AVG = ["enginetemperature", "humidity", "vibrationlevel", "fuelconsumption"]
_MAX = _AVG + ["operatinghours"]
_STATS = ["enginetemperature", "humidity", "vibrationlevel"]


def _round_half_up(x: float, k: int) -> float:
    q = 10 ** k
    return math.copysign(math.floor(abs(x) * q + 0.5), x) / q


def _exact_avg(s: pd.Series) -> float:
    micro = sum(int(_round_half_up(v * 1e6, 0)) for v in s)
    return _round_half_up(micro / (len(s) * 100), 0) / 1e4


class Model:
    def __init__(self, clean: pd.DataFrame) -> None:
        self.tbl = clean.reset_index(drop=True)
        self._latest = None

    def insert(self, row: dict) -> None:
        self.tbl = pd.concat([self.tbl, pd.DataFrame([row])], ignore_index=True)
        self._latest = None

    def latest_per_machine(self) -> pd.DataFrame:
        if self._latest is None:
            self._latest = self._dedup(self.tbl)
        return self._latest

    @staticmethod
    def _dedup(df: pd.DataFrame) -> pd.DataFrame:
        s = df.sort_values(["machineid", "timestamp_epoch", "enginetemperature"], ascending=[True, False, False])
        return s.drop_duplicates("machineid")[DEDUP_COLS]

    def expected(self, kind: str, p: dict) -> list[tuple]:
        t = self.tbl
        if kind == "latest":
            m = t[t.machineid == p["machine"]]
            return [(int(m.timestamp_epoch.max()),)]
        if kind == "range":
            m = t[(t.machineid == p["machine"]) & t.timestamp_epoch.between(p["start"], p["end"])]
            return sorted(zip(m.timestamp_epoch.astype(int), m.enginetemperature, m.humidity))
        if kind == "highest_temp":
            d = self.latest_per_machine().sort_values(["enginetemperature", "machineid"], ascending=[False, True])
            return [(r.machineid, r.enginetemperature, int(r.timestamp_epoch), r.status) for r in d.head(5).itertuples()]
        if kind == "lowest_humidity":
            g = t[(t.humidity > 0) & (t.humidity <= 100)]
            d = self._dedup(g).sort_values(["humidity", "machineid"])
            return [(r.machineid, r.humidity, int(r.timestamp_epoch), r.status) for r in d.head(5).itertuples()]
        if kind == "by_status":
            d = self.latest_per_machine()
            d = d[d.status.str.lower().str.contains(p["status"].lower(), regex=False)].sort_values("machineid")
            return [(r.machineid, int(r.timestamp_epoch), r.status) for r in d.itertuples()]
        if kind == "comparison":
            rows = []
            for mid, g in t.groupby("machineid"):
                rows.append(
                    (mid, len(g))
                    + tuple(_exact_avg(g[c]) for c in _AVG)
                    + tuple(_round_half_up(g[c].max(), 4) for c in _MAX)
                )
            rows.sort(key=lambda r: (-r[2], r[0]))
            return rows
        if kind == "stats":
            g = t[t.machineid == p["machine"]]
            out = [len(g)]
            for c in _STATS:
                out += [_round_half_up(g[c].min(), 4), _round_half_up(g[c].max(), 4), _exact_avg(g[c])]
            return [tuple(out)]
        raise ValueError(kind)


def project(kind: str, rows: list) -> list[tuple]:
    """The engine's collected rows, in the shape ``Model.expected`` uses."""
    if kind == "latest":
        return [(r["timestamp_epoch"],) for r in rows]
    if kind == "range":
        return sorted((r["timestamp_epoch"], r["enginetemperature"], r["humidity"]) for r in rows)
    if kind == "highest_temp":
        return [(r["machineid"], r["temperature"], r["timestamp_epoch"], r["status"]) for r in rows]
    if kind == "lowest_humidity":
        return [(r["machineid"], r["humidity_v"], r["timestamp_epoch"], r["status"]) for r in rows]
    if kind == "by_status":
        return [(r["machineid"], r["timestamp_epoch"], r["status"]) for r in rows]
    if kind == "comparison":
        return [
            (r["machineid"], r["n"]) + tuple(r[f"avg_{c}"] for c in _AVG) + tuple(r[f"max_{c}"] for c in _MAX)
            for r in rows
        ]
    if kind == "stats":
        return [
            (r["n"],) + tuple(v for c in _STATS for v in (r[f"min_{c}"], r[f"max_{c}"], r[f"avg_{c}"]))
            for r in rows
        ]
    raise ValueError(kind)


def same(a: list[tuple], b: list[tuple], tol: float = 1e-9) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if len(x) != len(y):
            return False
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or abs(float(u) - float(v)) > tol * max(1.0, abs(float(v))):
                    return False
            elif u != v:
                return False
    return True
