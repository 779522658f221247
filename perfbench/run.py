"""Engine benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root. The run starts a fresh Spark process on
local[<cores>], sets the workload up several times (each time generating
its inputs from the seed in a fresh directory under ``.perfbench/`` of
the checkout and loading them), checks outputs on untimed work that
also warms it up, measures for ``--seconds``, checks again and prints one
JSON line as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
``end_to_end`` metrics of BENCHMARK.json; with ``--trace 1`` they are its
``per_layer`` metrics, measured with spans and Spark job accounting,
and the spans are written to ``.perfbench/trace-<workload>-<seed>.jsonl``.
Every run also writes its timed operations to
``.perfbench/ops-<workload>-<seed>-<trace>.jsonl``. See
perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "machine_telemetry_etl_ml_pipeline_spark"
# Workload set-ups per run, each on freshly generated inputs in a fresh
# directory; setup_s counts the process start once and their median.
SETUPS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _stat_fields(pid) -> list[str]:
    """/proc/<pid>/stat from field 3 (state) on."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - int(_stat_fields("self")[19]) / os.sysconf("SC_CLK_TCK"))


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total / 1024.0


def heap_live_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the run
    retained (checkpoint blocks, cached plans, status records)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, work: str, seed: int, trace: bool, tracer) -> None:
        self.work = work
        self.seed = seed
        self.trace = trace
        self.tracer = tracer
        self.jobs = None  # spans.SparkJobs, traced runs only
        self.cpu = None  # spans.CpuClock once the JVM runs
        self.job_count = None  # spans.JobCounter once the JVM runs


def isolate(work: str, cores: int) -> None:
    """Keep every file the run writes inside ``work``: Spark's local
    dirs, JVM and Python temp files, and ``spark-warehouse/`` (written
    relative to the working directory by bucketed-table entries)."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
        "pyspark-shell",
    ])
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
        proc.kill()
        proc.wait()


def _per_kind_geomean_ms(records, key: str) -> float:
    per_kind: dict = {}
    for r in records:
        per_kind.setdefault(r["op"], []).append(r[key])
    return math.exp(statistics.fmean(math.log(statistics.median(v) * 1e3) for v in per_kind.values()))


def end_to_end(records, setup_s: float) -> dict:
    """The bounded metrics. Operation cost is counted in Spark jobs, not
    timed: see README.md, "Why the bounded metrics are not times"."""
    return {
        "setup_s": setup_s,
        "jobs_per_op": statistics.fmean(r["jobs"] for r in records),
    }


def costs(records, rss_mb: float, heap_mb: float, cores: int) -> dict:
    """CPU, wall-clock and memory figures, reported unbounded in traced
    runs."""
    wall = [r["wall_s"] for r in records]
    return {
        "cpu.ms_per_op": statistics.fmean(r["cpu_s"] for r in records) * 1e3,
        "cpu.op_geomean_ms": _per_kind_geomean_ms(records, "cpu_s"),
        "wall.op_p50_ms": statistics.median(wall) * 1e3,
        "wall.op_geomean_ms": _per_kind_geomean_ms(records, "wall_s"),
        "wall.ops_per_s": len(wall) / sum(wall),
        "host.steal_frac": sum(r["steal_s"] for r in records) / (sum(wall) * cores),
        "peak_rss_mb": rss_mb,
        "heap_live_mb": heap_mb,
    }


def main(argv=None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for f in (os.path.join(PACKAGE, "engine.py"), "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, f)):
            log(f"{f} not found next to {HERE}; run from a full checkout")
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2

    sys.path.insert(0, ROOT)
    from serve import Serve
    from spans import CpuClock, JobCounter, SparkJobs, Tracer
    from suite import Suite

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    isolate(work, cores)
    ctx = Ctx(work, args.seed, bool(args.trace), Tracer())
    w = {c.name: c for c in (Suite, Serve)}[args.workload](ctx)
    spark = None
    try:
        w.prepare()
        from machine_telemetry_etl_ml_pipeline_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.time() - t_start
        jvm_pid = spark.sparkContext._gateway.proc.pid
        ctx.cpu = CpuClock(jvm_pid)
        ctx.job_count = JobCounter(spark)
        if ctx.trace:
            ctx.jobs = SparkJobs(spark)
        setups = []
        for k in range(SETUPS):
            t = time.perf_counter()
            w.setup(spark, k, last=k == SETUPS - 1)
            setups.append(time.perf_counter() - t)
        setup_s = start_s + statistics.median(setups)
        w.warm_up()
        log(f"start {start_s:.1f}s (session {session_s:.1f}s), workload set-ups "
            f"{' '.join(f'{s:.1f}s' for s in setups)}, setup_s {setup_s:.1f}s")
        t = time.perf_counter()
        w.run(args.seconds)
        w.finish()
        log(f"measured {time.perf_counter() - t:.1f}s, {w.attempted} operations, {w.failed} failed")
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        heap = heap_live_mb(spark)
        with open(os.path.join(out_dir, f"ops-{args.workload}-{args.seed}-{args.trace}.jsonl"), "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in w.records)
        if ctx.trace:
            values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            values.update(w.per_layer())
            values.update(costs(w.records, rss, heap, cores))
            values["session.start_s"] = session_s
            values["ops_failed_frac"] = w.failed / w.attempted
            ctx.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
            metrics = spec["per_layer"]
        else:
            values = end_to_end(w.records, setup_s)
            metrics = spec["end_to_end"]
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in metrics},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
