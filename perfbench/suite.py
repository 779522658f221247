"""``suite_sample``: headline registry entries through the noop sink.

One operation is one entry: call its builder (the *build* phase, which
includes construction-time checkpoints and bounded collects), then run
the returned plan through the noop sink (the *sink* phase). After each
entry, outside its timed window, ``unpersist_all`` sweeps the
checkpoint blocks the entry left behind, as ``bench.py`` does.

The full 49-entry headline pass takes ~37 s warm and ~64 s cold even at
sf0.001 on 4 cores, longer than one benchmark run may last, so the
workload runs a fixed sample, one entry per family: the reference's
latest-per-key read, an as-of join, a text operator, a TPC-H join
spine, a driver-side model fit over a bounded collect, and
``graph_k_core``, the iterative checkpointing entry with the most
jobs. Names are taken from ``bench.HEADLINE``, never copied from it.
"""

from __future__ import annotations

import os
import statistics
import time

from gen import write_star_tables
from spans import steal_s

# Scale of the generated star-schema tables (lineitem = 6M x SF rows).
SF = 0.01
# Headline entries measured, in HEADLINE order; see module docstring.
SAMPLE = (
    "ref_latest_per_key",
    "ext_asof_join",
    "llm_minhash_signatures",
    "tpch_q3",
    "ml_gbt_stumps",
    "graph_k_core",
)
_CKPT_FUNCS = ("checkpoint_rotate", "lazy_checkpoint", "attributed", "retire_ids")
_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def family(name: str) -> str:
    return name.split("_", 1)[0]


class Suite:
    name = "suite_sample"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.records: list[dict] = []  # one per timed operation
        self.attempted = 0
        self.failed = 0
        self.acc: dict = {}  # entry -> per-layer totals over its traced runs
        self.traced: dict = {}  # entry -> traced run seconds
        self.untraced: dict = {}

    def prepare(self) -> None:
        if self.ctx.trace:
            # Wrap before __spark_entry__ imports the registry, so the
            # callers' ``from ..operators.ckpt import ...`` bind the shims.
            from machine_telemetry_etl_ml_pipeline_spark.operators import ckpt

            for fn in _CKPT_FUNCS:
                self.ctx.tracer.wrap(ckpt, fn, f"ckpt.{fn}")
        import __spark_entry__ as ent
        from bench import HEADLINE
        from machine_telemetry_etl_ml_pipeline_spark.operators.ckpt import unpersist_all

        missing = [n for n in SAMPLE if n not in HEADLINE]
        if missing:
            raise SystemExit(f"not headline entries: {missing}")
        self.unpersist_all = unpersist_all
        queries = ent.queries()
        self.entries = [(n, queries[n]) for n in HEADLINE if n in SAMPLE]
        self.oracles = ent.oracle_sql()

    # --- set-up ---------------------------------------------------------

    def setup(self, spark, k: int, last: bool) -> None:
        """One set-up: write the tables into a fresh directory. The
        entries read them directly, so there is nothing to load; the
        timed passes use the last set-up's tables."""
        self.spark = spark
        self.data = os.path.join(self.ctx.work, f"tables{k}")
        write_star_tables(self.data, SF, self.ctx.seed)

    def warm_up(self) -> None:
        """The check pass, which also runs every entry once before the
        timed passes."""
        self._check_all()

    def _check_all(self) -> None:
        """Each entry's collected rows must equal its DuckDB oracle over
        the same files."""
        import duckdb
        from tools.check import canon_rows

        con = duckdb.connect()
        for t in _TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name, fn in self.entries:
            self.attempted += 1
            try:
                df = fn(self.spark, self.data)
                got = canon_rows(list(df.columns), [tuple(r) for r in df.collect()])
                self.unpersist_all(self.spark)
                tbl = con.execute(self.oracles[name]).fetch_arrow_table()
                rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
                ok = got == canon_rows(list(tbl.column_names), rows)
            except Exception as exc:  # noqa: BLE001 — a failing entry is a result
                print(f"check {name}: {exc!r}"[:400], flush=True)
                ok = False
            if not ok:
                print(f"check {name}: output differs from oracle", flush=True)
                self.failed += 1
        con.close()

    # --- timed ------------------------------------------------------------

    def run(self, seconds: float) -> None:
        """Whole passes until ``seconds`` have elapsed. In a traced run
        every other entry is traced, the other half in the next pass, so
        the traced and untraced runs of each entry measure the overhead."""
        start = time.perf_counter()
        n = 0
        while n < (2 if self.ctx.trace else 1) or time.perf_counter() - start < seconds:
            self._pass(n)
            n += 1

    def finish(self) -> None:
        pass

    def _pass(self, n: int) -> None:
        ctx, jobs = self.ctx, self.ctx.jobs
        for k, (name, fn) in enumerate(self.entries):
            traced = ctx.trace and (n + k) % 2 == 0
            self.attempted += 1
            tid = f"p{n}:{name}"
            ctx.tracer.trace_id, ctx.tracer.active = tid, traced
            try:
                if traced:
                    jobs.set_group(f"{tid}:build")
                j0, s0, c0, t0 = ctx.job_count(), steal_s(), ctx.cpu(), time.perf_counter()
                with ctx.tracer.span("registry.build"):
                    df = fn(self.spark, self.data)
                t1 = time.perf_counter()
                if traced:
                    jobs.set_group(f"{tid}:sink")
                with ctx.tracer.span("sink.noop"):
                    df.write.format("noop").mode("overwrite").save()
                t2, c2, s2, j2 = time.perf_counter(), ctx.cpu(), steal_s(), ctx.job_count()
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                print(f"{name}: {exc!r}"[:400], flush=True)
                self.failed += 1
                ctx.tracer.active = False
                self.unpersist_all(self.spark)
                continue
            ctx.tracer.active = False
            self.records.append({
                "op": name, "pass": n, "wall_s": t2 - t0, "build_s": t1 - t0, "sink_s": t2 - t1,
                "cpu_s": c2 - c0, "steal_s": s2 - s0, "jobs": j2 - j0,
            })
            if ctx.trace:
                (self.traced if traced else self.untraced).setdefault(name, []).append(t2 - t0)
            if traced:
                jobs.set_group(None)
                acc = self.acc.setdefault(name, {})
                self._account(acc, name, t1 - t0, t2 - t1, jobs.read(f"{tid}:build"), jobs.read(f"{tid}:sink"))
            leaked = self.unpersist_all(self.spark)
            if traced:
                acc["ckpt.rdds_leaked"] = acc.get("ckpt.rdds_leaked", 0) + leaked

    def _account(self, acc: dict, name: str, build_s: float, sink_s: float, b: dict, s: dict) -> None:
        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v

        fam = family(name)
        add("build.wall_s", build_s)
        add(f"build.wall_s.{fam}", build_s)
        add("build.jobs", b["jobs"])
        add("build.stages", b["stages"])
        add("build.tasks", b["tasks"])
        add("build.executor_cpu_s", b["executorCpuTime"] / 1e9)
        add("build.driver_only_s", max(0.0, build_s - b["job_wall_s"]))
        add("sink.wall_s", sink_s)
        add(f"sink.wall_s.{fam}", sink_s)
        add("sink.jobs", s["jobs"])
        add("sink.stages", s["stages"])
        add("sink.tasks", s["tasks"])
        add("sink.executor_run_s", s["executorRunTime"] / 1e3)
        add("sink.executor_cpu_s", s["executorCpuTime"] / 1e9)
        add("sink.job_wall_s", s["job_wall_s"])
        add("sink.shuffle_read_mb", s["shuffleReadBytes"] / 1e6)
        add("sink.shuffle_write_mb", s["shuffleWriteBytes"] / 1e6)
        add("sink.spill_mb", (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6)
        add("sink.input_mb", s["inputBytes"] / 1e6)

    # --- results ------------------------------------------------------------

    def per_layer(self) -> dict:
        """Totals per pass (one run of every entry in SAMPLE): the sum
        over entries of each entry's mean over its traced runs."""
        ckpt = [f"ckpt.{f}" for f in _CKPT_FUNCS]
        out: dict = {}
        for name, acc in self.acc.items():
            runs = len(self.traced[name])
            total, own, calls = self.ctx.tracer.totals(lambda t, e=name: t.endswith(f":{e}"))
            acc = dict(acc)
            acc["ckpt.calls"] = sum(calls[k] for k in ckpt)
            acc["ckpt.s"] = sum(total[k] for k in ckpt if k != "ckpt.retire_ids")
            acc["ckpt.retire_s"] = total["ckpt.retire_ids"]
            acc["self_s.registry"] = own["registry.build"]
            acc["self_s.ckpt"] = sum(own[k] for k in ckpt)
            acc["self_s.sink"] = own["sink.noop"]
            for k, v in acc.items():
                out[k] = out.get(k, 0.0) + v / runs
        job_wall = out.pop("sink.job_wall_s")
        out["sink.slot_util"] = out["sink.executor_run_s"] / (job_wall * self.ctx.jobs.cores)
        both = [e for e in self.traced if e in self.untraced]
        traced = sum(statistics.median(self.traced[e]) for e in both)
        out["trace.overhead_frac"] = traced / sum(statistics.median(self.untraced[e]) for e in both) - 1.0
        return out
