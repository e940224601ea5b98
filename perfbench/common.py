"""Shared plumbing for the benchmark workloads: sandboxed environment,
session set-up, spans, percentiles, memory and the result line.

Everything a run writes lives under ``perfbench/out/`` of the checkout
(Spark local dirs, temp files, the warehouse, pipeline roots and the
span files), so a run touches nothing outside the checkout.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(BENCH_DIR, "out")
NPROC = len(os.sched_getaffinity(0))
# The driver JVM heap limit. The package default (8g) is sized for a
# dedicated host; the benchmark shares its host, and none of its inputs
# need more.
DRIVER_MEM = "1g"
# The collector decides how much heap the JVM touches. G1, the default,
# sizes its young generation to meet a pause-time goal, and its peak RSS
# differed by 20% between runs of one commit; with the parallel
# collector, whose young generation is reused in place, peaks of one
# commit stayed within 5% (4-core VM).
DRIVER_GC = "-XX:+UseParallelGC"


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Workdir:
    """Per-run scratch tree under ``perfbench/out/work-<pid>``; removed
    on close. Environment variables that steer temp files are pointed
    here before any JVM or worker process starts."""

    def __init__(self, name: str):
        self.path = os.path.join(OUT, f"work-{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        self.warehouse = self.sub("warehouse")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        # Python workers import the package by path; shipping it through
        # PYTHONPATH makes them independent of the working directory.
        pp = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def spark_conf(self) -> dict:
        return {
            "spark.driver.memory": DRIVER_MEM,
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData {DRIVER_GC}"),
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def import_package():
    """Import the program under test from the checkout root. Exits with
    code 3 (and no result line) when the checkout does not hold it."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import investcloud_data_pipeline_spark  # noqa: F401
        from investcloud_data_pipeline_spark import session  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package from {ROOT}: {exc}")
        raise SystemExit(3)


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled
    tracers hand out a no-op span, so untraced runs pay one attribute
    check per boundary."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def pct(samples: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of ``samples``."""
    xs = sorted(samples)
    if not xs:
        return math.nan
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def describe(samples: list[float]) -> dict:
    """Median and p75 with the sample count and how many samples lie
    beyond each. p75 is the highest percentile with ten samples beyond
    it at the benchmark's 40 samples per run (p90 would have four)."""
    p50, p75 = pct(samples, 0.5), pct(samples, 0.75)
    return {
        "n": len(samples),
        "p50": p50,
        "p75": p75,
        "beyond_p50": sum(1 for x in samples if x > p50),
        "beyond_p75": sum(1 for x in samples if x > p75),
    }


def calib(iters: int = 5_000_000) -> float:
    """Single-core pure-Python loop; its wall flags hypervisor steal."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i
    return time.perf_counter() - t0


def _identity(batches):
    yield from batches


def start_session(app: str, cpus: int, conf: dict) -> tuple[object, dict]:
    """One session build through the package's ``get_spark`` followed by
    a first job."""
    from investcloud_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, cpus=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "first_job_s": t2 - t1}


def warm_python_workers(spark) -> float:
    """Fill the Python worker pool with one task per core, so the first
    mapInPandas stage of the workload is not charged the spawns."""
    t0 = time.perf_counter()
    cpus = spark.sparkContext.defaultParallelism
    spark.range(0, cpus, 1, cpus).mapInPandas(_identity, "id long").write.format(
        "noop").mode("overwrite").save()
    return time.perf_counter() - t0


def setup_sessions(app: str, python_workers: bool, conf: dict, repeats: int = 3):
    """Build the session ``repeats`` times (the first build launches the
    JVM, the others stop and rebuild the SparkContext in it) and keep
    the last one; then warm the Python workers once if the workload
    crosses the Python boundary.

    Returns (spark, set-up seconds, parts): set-up seconds are the
    median build plus the worker warm-up; parts hold the first (cold)
    build's split."""
    walls, first = [], None
    spark = None
    for _ in range(repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark, parts = start_session(app, NPROC, conf)
        walls.append(time.perf_counter() - t0)
        if first is None:
            first = parts
    first["python_workers_s"] = warm_python_workers(spark) if python_workers else 0.0
    first["builds_s"] = walls
    return spark, statistics.median(walls) + first["python_workers_s"], first


def session_layer(first: dict, calib_before: float, tracer: Tracer) -> dict:
    """Per-layer numbers of the session set-up and, in traced runs, the
    host calibration (mean of the loop before and after the run)."""
    out = {
        "session.get_spark_s": first["get_spark_s"],
        "session.first_job_s": first["first_job_s"],
        "session.python_workers_s": first["python_workers_s"],
    }
    if tracer.enabled:
        out["host.calib_s"] = (calib_before + calib()) / 2
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process.
    Workloads sample it before their gates and oracles run, so the
    Python part holds the driver-side work of the program, not the
    checking."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, AttributeError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    (and with it the Python worker daemon) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Gates:
    """Correctness gates; every failed gate is one failed operation."""

    def __init__(self):
        self.results: dict[str, bool] = {}
        self.notes: dict[str, str] = {}

    def check(self, name: str, ok: bool, note: str = "") -> bool:
        self.results[name] = bool(ok)
        if not ok:
            self.notes[name] = note
            log(f"GATE FAILED {name}: {note}")
        return bool(ok)

    @property
    def failed(self) -> int:
        return sum(1 for ok in self.results.values() if not ok)


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict,
         detail: dict) -> None:
    """Print the detail line, then the result object as the last line."""
    out = {}
    for name, value in metrics.items():
        v = float(value)
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[name] = {"value": v, "unit": units[name]}
    print("DETAIL " + json.dumps(detail, default=float, sort_keys=True))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out,
    }), flush=True)


def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit of the ``end_to_end`` or ``per_layer`` list in
    ``BENCHMARK.json``, the one place metric names are defined."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def finish(args, tracer: Tracer, workload: str, gates: Gates, attempted: int,
           failed: int, metrics: dict, layer: dict, detail: dict) -> None:
    """Print the run's result: end-to-end metrics untraced, per-layer
    metrics (0 for layers this workload does not exercise) traced; the
    traced run also writes its spans under ``perfbench/out/``."""
    E2E, PER_LAYER = metric_units("end_to_end"), metric_units("per_layer")
    detail = dict(detail, gates=gates.results, gate_notes=gates.notes, seed=args.seed)
    if args.trace:
        path = os.path.join(OUT, f"spans-{workload}-seed{args.seed}.json")
        tracer.write(path)
        detail["span_file"] = os.path.relpath(path, ROOT)
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
        values, units = {n: layer.get(n, 0.0) for n in PER_LAYER}, PER_LAYER
        detail["end_to_end"] = metrics
    else:
        values, units = {n: metrics[n] for n in E2E}, E2E
    emit(failed == 0, attempted, failed, values, units, detail)
