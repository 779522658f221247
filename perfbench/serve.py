"""``serve_mixed``: the reference's user path through ``TelemetryEngine``.

A set-up writes a seeded, reference-shaped telemetry CSV, ingests it
with ``ingest_csv`` into a fresh root and checks what landed on disk.
Then one closed-loop client sends the timed requests to the last
set-up's table (a traced run sends one untimed block first). Each
request is one of the seven ``get_*`` reads, collected to the driver as
the reference fetches rows, followed by a ``log_user_query`` append;
every 7th request also inserts one telemetry row. Kinds come in
shuffled blocks of seven, so every run asks each kind equally often;
machine ids, time windows and status filters come from the seed. The data is small, so the cost is
per-request planning, parquet file listing and job scheduling; the
appends and inserts grow the file set that later reads must list.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

import gen
from model import Model, project, same
from spans import steal_s

N_MACHINES = 200
N_HOURS = 360
# Untimed request blocks after the set-ups, in traced runs.
WARM_BLOCKS = 1
# One insert per block of seven requests, as its last request.
INSERT_EVERY = 7
KINDS = ("latest", "range", "highest_temp", "lowest_humidity", "by_status", "comparison", "stats")
_STATUS_FILTERS = ("Active", "fault", "Idle", "maint", "Unknown", "act")
_HOUR_S = 3600
_T0 = int(gen.START.astype("datetime64[s]").astype("int64"))
_SUMMED = gen.SENSORS + ["timestamp_epoch"]


def table_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a table root."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def requests(seed: int, machines: list[str]):
    """The seeded request stream of (kind, params): each block of seven
    requests holds every kind once, in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    while True:
        for k in rng.permutation(len(KINDS)):
            start = _T0 + int(rng.integers(0, N_HOURS)) * _HOUR_S
            yield KINDS[int(k)], {
                "machine": machines[int(rng.integers(len(machines)))],
                "start": start,
                "end": start + int(rng.integers(24, 169)) * _HOUR_S,
                "status": _STATUS_FILTERS[int(rng.integers(len(_STATUS_FILTERS)))],
            }


class Serve:
    name = "serve_mixed"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 2])
        self.records: list[dict] = []  # one per timed request
        self.attempted = 0
        self.failed = 0
        self.n_logged = 0
        self.n_inserted = 0
        self.layer: dict = {}
        self.traced: list[float] = []  # read ms of traced / untraced requests
        self.untraced: list[float] = []

    def prepare(self) -> None:
        from machine_telemetry_etl_ml_pipeline_spark import engine, ingest
        from machine_telemetry_etl_ml_pipeline_spark.plans import telemetry as plans

        self.engine = engine.TelemetryEngine
        self.machines = gen.machine_ids(N_MACHINES)
        if self.ctx.trace:
            tr = self.ctx.tracer
            for k in dir(plans):
                if k.startswith("get_"):
                    tr.wrap(plans, k, "plans.build")
            # the module globals ingest_csv and insert_rows call
            tr.wrap(ingest, "read_telemetry_csv", "csv.open")
            tr.wrap(ingest, "normalize_telemetry", "ingest.normalize")
            tr.wrap(ingest, "write_telemetry", "ingest.write")
            tr.wrap(ingest, "dayofweek_monday0", "timefeat")
            tr.wrap(ingest, "with_write_defaults", "timefeat")

    # --- set-up ---------------------------------------------------------

    def setup(self, spark, k: int, last: bool) -> None:
        """One set-up: generate the CSV, ingest it into a fresh root and
        check what landed. The timed requests use the last one; a traced
        run measures the ingest layers on it (a warm JVM)."""
        raw = gen.telemetry_frame(np.random.default_rng([self.ctx.seed, 0]), N_MACHINES, N_HOURS)
        self.data = gen.write_telemetry_csv(os.path.join(self.ctx.work, f"in{k}", "telemetry.csv"), raw)
        self.root = os.path.join(self.ctx.work, f"store{k}")
        self.eng = self.engine(self.root, spark)
        self.spark = spark
        self._ingest(self.eng, self.data, traced=self.ctx.trace and last)

    def warm_up(self) -> None:
        """A traced run first sends untimed request blocks, checked like
        the timed ones, so its per-layer times are taken after Spark's
        JVM has compiled the hot code of the reads. An untraced run skips
        them: its bounded metric, jobs per request, does not depend on it."""
        self.model = Model(self.data.clean)
        if not self.ctx.trace:
            return
        self.ctx.tracer.wrap(self.eng, "telemetry", "engine.telemetry")
        stream = requests(self.ctx.seed + 1, self.machines)
        for i in range(WARM_BLOCKS * len(KINDS)):
            kind, params = next(stream)
            self._request(-1 - i, kind, params, traced=False)
        self.records.clear()

    def _ingest(self, eng, data: gen.Telemetry, traced: bool) -> None:
        tr, jobs = self.ctx.tracer, self.ctx.jobs
        tr.trace_id, tr.active = "ingest", traced
        if traced:
            jobs.set_group("ingest")
        self.attempted += 1
        t0 = time.perf_counter()
        with tr.span("ingest.ingest_csv"):
            n = eng.ingest_csv(data.csv_path)
        dt = time.perf_counter() - t0
        tr.active = False
        table = os.path.join(eng.root, "telemetry")
        files, size = table_stats(table)
        if traced:
            jobs.set_group(None)
            j = jobs.read("ingest")
            self.layer.update({
                "ingest.jobs": j["jobs"],
                "ingest.input_bytes_per_csv_byte": j["inputBytes"] / data.csv_bytes,
                "ingest.shuffle_write_mb": j["shuffleWriteBytes"] / 1e6,
                "ingest.executor_cpu_s": j["executorCpuTime"] / 1e9,
                "ingest.files_written": files,
            })
        self.layer["ingest.rows_per_s"] = len(data.clean) / dt
        self.layer["ingest.stored_bytes_per_input_byte"] = size / data.csv_bytes
        if not self._check_ingest(n, table, data.clean):
            self.failed += 1

    @staticmethod
    def _check_ingest(n: int, table: str, clean: pd.DataFrame) -> bool:
        """Row count and per-column sums of what landed on disk."""
        if n != len(clean):
            print(f"ingest returned {n} rows, expected {len(clean)}", flush=True)
            return False
        t = ds.dataset(table, format="parquet", partitioning="hive").to_table(columns=_SUMMED)
        if t.num_rows != n:
            print(f"table holds {t.num_rows} rows, expected {n}", flush=True)
            return False
        for c in _SUMMED:
            got, want = float(t.column(c).to_numpy().sum()), float(clean[c].sum())
            if abs(got - want) > 1e-9 * max(1.0, abs(want)):
                print(f"sum({c}) = {got}, expected {want}", flush=True)
                return False
        return True

    # --- requests -------------------------------------------------------

    def _read(self, kind: str, p: dict):
        e = self.eng
        if kind == "latest":
            return e.get_latest_telemetry(p["machine"], 1)
        if kind == "range":
            return e.get_telemetry_range(p["machine"], p["start"], p["end"])
        if kind == "highest_temp":
            return e.get_highest_temperature_machines(5)
        if kind == "lowest_humidity":
            return e.get_lowest_humidity_machines(5)
        if kind == "by_status":
            return e.get_machines_by_status(p["status"])
        if kind == "comparison":
            return e.get_machine_comparison_stats()
        return e.get_telemetry_stats(p["machine"])

    def _insert_row(self) -> tuple[dict, dict]:
        """A row one hour past everything stored so far (so it becomes
        its machine's latest), as sent and as it must be stored."""
        ts = gen.START + np.timedelta64(N_HOURS + self.n_inserted, "h")
        row = {
            "machineid": self.machines[int(self.rng.integers(len(self.machines)))],
            "type": "Loader",
            "location": "Site A",
            "timestamp": gen.csv_timestamps(pd.Series([ts]).astype("datetime64[ns]"))[0],
            "enginetemperature": round(float(self.rng.normal(80.0, 8.0)), 1),
            "fuelconsumption": round(float(self.rng.uniform(5.0, 25.0)), 2),
            "vibrationlevel": round(float(self.rng.gamma(4.0, 0.8)), 2),
            "humidity": round(float(self.rng.uniform(20.0, 95.0)), 1),
            "pressure": round(float(self.rng.normal(1000.0, 30.0)), 1),
            "poweroutput": round(float(self.rng.uniform(100.0, 400.0)), 1),
            "operatinghours": float(N_HOURS + self.n_inserted + 1),
            "status": gen.STATUSES[int(self.rng.integers(len(gen.STATUSES)))],
        }
        epoch = int(ts.astype("datetime64[s]").astype("int64"))
        return row, dict(row, timestamp=pd.Timestamp(ts), timestamp_epoch=epoch)

    def _request(self, i: int, kind: str, p: dict, traced: bool) -> None:
        tr, jobs = self.ctx.tracer, self.ctx.jobs
        insert = i >= 0 and i % INSERT_EVERY == INSERT_EVERY - 1
        if insert:
            row, stored = self._insert_row()
        tr.trace_id, tr.active = f"r{i}", traced
        if traced:
            files0 = table_stats(self.root)[0]
            jobs.set_group(f"r{i}:read")
        self.attempted += 1
        try:
            j0, s0, c0, t0 = self.ctx.job_count(), steal_s(), self.ctx.cpu(), time.perf_counter()
            with tr.span("read.build"):
                df = self._read(kind, p)
            t1 = time.perf_counter()
            with tr.span("read.collect"):
                rows = [r.asDict() for r in df.collect()]
            t2 = time.perf_counter()
            if traced:
                jobs.set_group(f"r{i}:append")
            with tr.span("append.log"):
                self.eng.log_user_query("operator", f"{kind} {p['machine']}", kind, 0.9, p["machine"], p["start"])
            self.n_logged += 1
            t3 = time.perf_counter()
            if insert:
                with tr.span("append.insert"):
                    self.eng.insert_telemetry(row)
                self.n_inserted += 1
            t4, c4, s4, j4 = time.perf_counter(), self.ctx.cpu(), steal_s(), self.ctx.job_count()
        except Exception as exc:  # noqa: BLE001 — count it, keep serving
            tr.active = False
            print(f"request {i} {kind}: {exc!r}"[:400], flush=True)
            self.failed += 1
            return
        tr.active = False
        self.records.append({
            "op": kind, "i": i, "wall_s": t4 - t0, "read_s": t2 - t0, "append_s": t4 - t2,
            "cpu_s": c4 - c0, "steal_s": s4 - s0, "jobs": j4 - j0,
        })
        if self.ctx.trace and i >= 0:
            (self.traced if traced else self.untraced).append((t2 - t0) * 1e3)
        if traced:
            jobs.set_group(None)
            r, a = jobs.read(f"r{i}:read"), jobs.read(f"r{i}:append")
            self._add("read.exec_ms", (t2 - t1) * 1e3)
            self._add("read.jobs_per_req", r["jobs"])
            self._add("read.tasks_per_req", r["tasks"])
            self._add("read.executor_cpu_ms", r["executorCpuTime"] / 1e6)
            self._add("append.log_ms", (t3 - t2) * 1e3)
            self._add("append.jobs_per_req", a["jobs"])
            self._add("append.files_per_req", table_stats(self.root)[0] - files0)
            self._add(f"read.p50_ms.{kind}", (t2 - t0) * 1e3)
            if insert:
                self._add("append.insert_ms", (t4 - t3) * 1e3)
        if not self._check(kind, p, rows):
            print(f"request {i} {kind} {p}: wrong answer", flush=True)
            self.failed += 1
        if insert:  # after the check: the read ran before the insert
            self.model.insert(stored)

    def _check(self, kind: str, p: dict, rows: list) -> bool:
        if kind == "range":
            ts = [r["timestamp_epoch"] for r in rows]
            if ts != sorted(ts):
                return False
        return same(project(kind, rows), self.model.expected(kind, p))

    def _add(self, k: str, v: float) -> None:
        self.layer.setdefault(k, []).append(v)

    def run(self, seconds: float) -> None:
        """Whole blocks of seven requests until ``seconds`` have elapsed,
        so every kind is measured equally often. A traced run traces
        every other block and runs at least two, so every kind runs
        traced and untraced (the two give the overhead)."""
        start = time.perf_counter()
        stream = requests(self.ctx.seed, self.machines)
        at_least = 2 * len(KINDS) if self.ctx.trace else 0
        i = 0
        while i % len(KINDS) or i < at_least or time.perf_counter() - start < seconds:
            kind, p = next(stream)
            self._request(i, kind, p, traced=self.ctx.trace and i // len(KINDS) % 2 == 0)
            i += 1

    def finish(self) -> None:
        """Every acknowledged append must be readable."""
        self.attempted += 1
        n_log = self.spark.read.parquet(os.path.join(self.root, "user_query_log")).count()
        n_tel = self.eng.telemetry().count()
        if n_log != self.n_logged or n_tel != len(self.model.tbl):
            print(f"appends: log {n_log}/{self.n_logged}, telemetry {n_tel}/{len(self.model.tbl)}", flush=True)
            self.failed += 1
        self.files = table_stats(os.path.join(self.root, "telemetry"))[0]

    # --- results ----------------------------------------------------------

    def per_layer(self) -> dict:
        out = {"telemetry.files": float(self.files)}
        for k, v in self.layer.items():
            if isinstance(v, list):
                out[k] = statistics.median(v) if k.startswith("read.p50_ms.") else statistics.fmean(v)
            else:
                out[k] = v
        total, own, calls = self.ctx.tracer.totals(lambda t: t.startswith("r") and not t.startswith("r-"))
        n = len(self.traced) or 1
        out["engine.scan_open_ms"] = total["engine.telemetry"] / max(1, calls["engine.telemetry"]) * 1e3
        out["plans.build_ms"] = own["plans.build"] / n * 1e3
        out["self_s.engine"] = own["engine.telemetry"] / n
        out["self_s.plans"] = own["plans.build"] / n
        out["self_s.read_exec"] = own["read.collect"] / n
        out["self_s.append"] = (own["append.log"] + own["append.insert"]) / n
        total, own, _ = self.ctx.tracer.totals(lambda t: t == "ingest")
        inner = total["csv.open"] + total["ingest.normalize"] + total["ingest.write"]
        out.update({
            "csv.open_s": total["csv.open"],
            "ingest.normalize_s": total["ingest.normalize"],
            "ingest.write_s": total["ingest.write"],
            "ingest.count_s": total["ingest.ingest_csv"] - inner,
            "self_s.csv": own["csv.open"],
            "self_s.ingest": own["ingest.normalize"] + own["ingest.write"] + own["ingest.ingest_csv"],
            "self_s.timefeat": own["timefeat"],
        })
        if self.traced and self.untraced:
            out["trace.overhead_frac"] = statistics.median(self.traced) / statistics.median(self.untraced) - 1.0
        return out
