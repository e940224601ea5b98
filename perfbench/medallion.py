"""``medallion_live``: the bronze → silver → gold pipeline fed in open
loop, measured by freshness.

A separate generator process (``livegen.py``) lands one small parquet
file every ``1 / RATE`` seconds into the raw directory watched by
``streaming.pipeline.start_continuous``. Each file carries a unique
probe row; a file's freshness is the time from when it was due to the
first poll at which the gold snapshot holds its probe. Small frequent
batches make fixed per-trigger costs (listing, planning, WAL commit,
state snapshot, gold's full recompute of silver) dominate.

The traced run also measures the pipeline's capacity (files offered
faster than it drains them), and drains a seeded CSV backlog with
``streaming.pipeline.run_once`` on ``local[nproc]`` and on ``local[1]``:
the single-core baseline of the same job.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import common as C
from perfbench import data as D

# Files per second offered by the generator: a third of the drain
# capacity of the three chained queries, which the traced run measures
# as ``live.capacity_files_per_s`` (16-18 files/s in a warm JVM, 11 in a
# fresh one, on a 4-core VM; bronze admits at most 10 files per
# trigger). Below saturation, so freshness measures per-trigger cost and
# the wait for the batch in flight rather than a growing queue.
RATE = 5.0
# Traced run: files offered this fast for CAPACITY_S seconds build a
# backlog that bronze drains in full batches; the drain rate is the
# pipeline's capacity.
CAPACITY_RATE = 40.0
CAPACITY_S = 4
ROWS_PER_FILE = 200   # activity rows per live file (plus one probe row)
TRIGGER_S = 0         # processing-time trigger: start batches back to back
POLL_S = 0.05         # gold polling period
GRACE_S = 30.0        # after the last file is due, how long probes may take
WARMUP_S = 1.0        # leading window of scheduled files that is not measured
FIRST_FILE_TIMEOUT_S = 60.0
BACKLOG_FILES = 4     # traced run: CSV backlog drained by run_once
BACKLOG_ROWS = 12_500


def _gold_probes(gold_dir: str) -> set[str] | None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        col = pq.read_table(gold_dir, columns=["user_id"]).column("user_id")
    except (OSError, pa.ArrowException):  # snapshot missing or mid-overwrite
        return None
    return set(col.filter(pc.starts_with(col, "probe_")).to_pylist())


def _read_parquet_dir(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def _progress(query) -> list[dict]:
    """Data-carrying micro-batches of one query, from the engine's own
    ``recentProgress`` (idle heartbeats dropped). A batch counts when a
    source offset moved: gold's recompute mode never reads its micro-
    batch, so the engine reports 0 input rows for it."""
    seen, out = set(), []
    for p in query.recentProgress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        moved = any(s.get("startOffset") != s.get("endOffset") for s in p.get("sources", []))
        if (moved or p.get("numInputRows", 0) > 0) and p["batchId"] not in seen:
            seen.add(p["batchId"])
            out.append(p)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layer_metrics(prefix: str, prog: list[dict]) -> dict:
    dur = [p.get("durationMs", {}) for p in prog]
    trig = [d.get("triggerExecution", 0) for d in dur]
    return {
        f"{prefix}.wall_s": sum(trig) / 1000.0,
        f"{prefix}.batches": len(prog),
        f"{prefix}.rows_in": sum(p.get("numInputRows", 0) for p in prog),
        f"{prefix}.add_batch_ms": _mean(d.get("addBatch", 0) for d in dur),
        f"{prefix}.batch_p50_ms": C.pct(trig, 0.5) if trig else 0.0,
    }


def _wait_idle(queries, timeout_s: float = 15.0) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if all(not q.status["isTriggerActive"] and not q.status["isDataAvailable"]
               for q in queries):
            return
        time.sleep(0.1)


class LivePhase:
    """One open-loop run on a fresh pipeline root. The generator first
    lands a single file and the run waits until it reaches gold (the
    queries have loaded their classes and compiled their plans); then it
    lands files on schedule for ``WARMUP_S + seconds``. Files of the
    leading ``WARMUP_S`` window are not measured."""

    def __init__(self, spark, ip_regions, wd: C.Workdir, seed: int, seconds: float,
                 first_file: int, name: str, rate: float = RATE, grace_s: float = GRACE_S):
        from investcloud_data_pipeline_spark.config import PipelinePaths

        self.spark = spark
        self.ip_regions = ip_regions
        self.paths = PipelinePaths(wd.sub(name))
        self.log_path = os.path.join(wd.path, f"{name}_gen.json")
        self.seed = seed
        self.rate = rate
        self.grace_s = grace_s
        self.n_warm = 1 + int(round(rate * WARMUP_S))
        self.n_files = self.n_warm + max(1, int(round(rate * seconds)))
        self.first_file = first_file

    def run(self, tracer: C.Tracer) -> dict:
        from investcloud_data_pipeline_spark.streaming.pipeline import start_continuous

        os.makedirs(self.paths.raw, exist_ok=True)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(C.BENCH_DIR, "livegen.py"),
             "--raw", self.paths.raw, "--log", self.log_path,
             "--seed", str(self.seed), "--files", str(self.n_files),
             "--rate", str(self.rate), "--rows", str(ROWS_PER_FILE),
             "--first", str(self.first_file)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            t_start = time.monotonic()
            with tracer.span("live.start_queries"):
                queries = start_continuous(
                    self.spark, self.paths, self.ip_regions, fmt="parquet",
                    trigger_seconds=TRIGGER_S,
                )
            try:
                if gen.stdout.readline().strip() != "ready":
                    raise RuntimeError("generator failed to start")
                want = {D.probe_user(self.seed, self.first_file + i): i
                        for i in range(self.n_files)}
                seen: dict[int, float] = {}
                gen.stdin.write(f"{time.monotonic()!r}\n")
                gen.stdin.flush()
                with tracer.span("live.first_file"):
                    self._poll(want, seen, 1, time.monotonic() + FIRST_FILE_TIMEOUT_S)
                t0 = time.monotonic() + 0.1
                gen.stdin.write(f"{t0!r}\n")
                gen.stdin.flush()
                with tracer.span("live.poll_gold"):
                    self._poll(want, seen, self.n_files,
                               t0 + (self.n_files - 1) / self.rate + self.grace_s)
                t_end = time.monotonic()
                with tracer.span("live.drain_idle"):
                    _wait_idle(queries)
                prog = {q.name: _progress(q) for q in queries}
            finally:
                for q in queries:
                    q.stop()
            gen.wait(timeout=60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        with open(self.log_path) as fh:
            gen_log = json.load(fh)
        out = self._measure(t_end, seen, gen_log, prog)
        # pipeline start to the first file served: the set-up a user sees
        out["start_to_first_s"] = seen[0] - t_start if 0 in seen else t_end - t_start
        return out

    def _poll(self, want: dict, seen: dict, until: int, deadline: float) -> None:
        """Poll the gold snapshot, recording when each probe first shows,
        until ``until`` probes were seen or the deadline passed."""
        while len(seen) < until and time.monotonic() < deadline:
            probes = _gold_probes(self.paths.gold)
            now = time.monotonic()
            for u in probes or ():
                i = want.get(u)
                if i is not None and i not in seen:
                    seen[i] = now
            time.sleep(POLL_S)

    def _measure(self, t_end, seen, gen_log, prog) -> dict:
        due = {i - self.first_file: d for i, d, _, _ in gen_log}
        rows = {i - self.first_file: n for i, _, _, n in gen_log}
        measured = [i for i in sorted(due) if i >= self.n_warm]
        fresh = [seen[i] - due[i] for i in measured if i in seen]
        # a probe that never reached gold missed every latency limit: it
        # enters the percentiles at the full observation window
        missing = [t_end - due[i] for i in measured if i not in seen]
        late = [landed - d for i, d, landed, _ in gen_log if i - self.first_file >= self.n_warm]
        hit = [i for i in measured if i in seen]
        window = (max(seen[i] for i in hit) - due[measured[0]]) if hit else 0.0
        # files per second that gold took in after its first update of
        # the scheduled files (the pipeline was already busy)
        t = sorted(seen[i] for i in seen if i >= 1)
        after = sum(1 for x in t if x > t[0])
        return {
            "freshness": fresh + missing,
            "n_missing": self.n_files - len(seen),
            "n_measured": len(measured),
            "rows_per_s": sum(rows[i] for i in hit) / window if hit else 0.0,
            "offered_rows_per_s": sum(rows[i] for i in measured) * self.rate / len(measured),
            "generator_late_p90_s": C.pct(late, 0.9),
            "files_landed": len(gen_log),
            "drain_files_per_s": after / (t[-1] - t[0]) if after else 0.0,
            "prog": prog,
        }

    def gates(self, gates: C.Gates, ip_pdf, tag: str) -> dict:
        """Sink-level checks on the final state (queries stopped)."""
        return sink_gates(gates, tag, _read_parquet_dir(self.paths.raw), self.paths, ip_pdf)


def sink_gates(gates: C.Gates, tag: str, raw, paths, ip_pdf) -> dict:
    """Valid + quarantined rows equal raw rows, silver rows equal the
    distinct valid log ids, gold equals the pandas recompute. Returns
    the sink-side per-layer numbers."""
    import pandas as pd

    n_valid, n_distinct = D.valid_counts(raw)
    bronze = _read_parquet_dir(paths.bronze)
    quarantine = (_read_parquet_dir(paths.quarantine)
                  if os.path.isdir(paths.quarantine) else pd.DataFrame())
    silver = _read_parquet_dir(paths.silver)
    gold = _read_parquet_dir(paths.gold)
    gates.check(f"{tag}.split_counts", len(bronze) + len(quarantine) == len(raw)
                and len(bronze) == n_valid,
                f"valid {len(bronze)} + quarantined {len(quarantine)} vs raw {len(raw)}")
    gates.check(f"{tag}.silver_distinct", len(silver) == n_distinct,
                f"silver {len(silver)} vs distinct valid log_ids {n_distinct}")
    ok, note = D.gold_matches(gold, D.expected_gold(raw, ip_pdf))
    gates.check(f"{tag}.gold_recompute", ok, note)
    return {
        "bronze.rows_valid": len(bronze),
        "bronze.rows_quarantined": len(quarantine),
        "bronze.bytes_out": C.dir_bytes(paths.bronze) + C.dir_bytes(paths.quarantine),
        "silver.rows_out": len(silver),
        "gold.users_out": len(gold),
        "gold.snapshot_bytes": C.dir_bytes(paths.gold),
    }


def _streaming_layers(prog: dict, sinks: dict) -> dict:
    bronze = prog.get("bronze_ingest", [])
    silver = prog.get("silver_dedup_enrich", [])
    gold = prog.get("gold_snapshot", [])
    m = {}
    m.update(_layer_metrics("bronze", bronze))
    m["bronze.latest_offset_ms"] = _mean(p["durationMs"].get("latestOffset", 0) for p in bronze)
    m["bronze.planning_ms"] = _mean(p["durationMs"].get("queryPlanning", 0) for p in bronze)
    m["bronze.commit_ms"] = _mean(
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in bronze)
    m.update(_layer_metrics("silver", silver))
    ops = [op for p in silver for op in p.get("stateOperators", [])]
    m["silver.rows_dropped_late"] = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    m["silver.state_rows"] = ops[-1].get("numRowsTotal", 0) if ops else 0
    m["silver.state_mem_bytes"] = ops[-1].get("memoryUsedBytes", 0) if ops else 0
    m["silver.state_update_ms"] = _mean(op.get("allUpdatesTimeMs", 0) for op in ops)
    m["silver.state_commit_ms"] = _mean(op.get("commitTimeMs", 0) for op in ops)
    m.update(_layer_metrics("gold", gold))
    m["gold.batch_last_ms"] = gold[-1]["durationMs"].get("triggerExecution", 0) if gold else 0
    m.update(sinks)
    rows_in = m["silver.rows_in"]
    m["silver.dup_drop_frac"] = 1 - sinks["silver.rows_out"] / rows_in if rows_in else 0.0
    return m


def _backlog(raw_dir: str, seed: int, files: int, rows: int) -> None:
    from datetime import datetime

    os.makedirs(raw_dir, exist_ok=True)
    anchor = datetime(2024, 3, 1)
    for i in range(files):
        df = D.stamp(D.activity_rows(seed, 10_000 + i, rows), None, anchor)
        df.to_csv(os.path.join(raw_dir, f"activity_{i:04d}.csv"), index=False)


def backfill_drain(spark, ip_regions, ip_pdf, wd: C.Workdir, seed: int, name: str,
                   gates: C.Gates) -> float:
    """Drain a seeded CSV backlog with ``run_once``; returns raw rows/s
    over the drain wall and gates the sinks like the live phase."""
    from investcloud_data_pipeline_spark.config import PipelinePaths
    from investcloud_data_pipeline_spark.streaming.pipeline import run_once

    import pandas as pd

    paths = PipelinePaths(wd.sub(name))
    _backlog(paths.raw, seed, BACKLOG_FILES, BACKLOG_ROWS)
    t0 = time.perf_counter()
    run_once(spark, paths, ip_regions, fmt="csv")
    wall = time.perf_counter() - t0
    raw = pd.concat(
        [pd.read_csv(os.path.join(paths.raw, f), dtype={"watch_time(min)": "int64"},
                     keep_default_na=False, na_values=[""])
         for f in sorted(os.listdir(paths.raw))], ignore_index=True)
    raw = raw.astype(object).where(raw.notna(), None)
    sink_gates(gates, name, raw, paths, ip_pdf)
    return len(raw) / wall


def run(args, tracer: C.Tracer, wd: C.Workdir) -> None:
    from investcloud_data_pipeline_spark.datagen import make_ip_region_frame

    calib0 = C.calib() if tracer.enabled else 0.0
    spark, session_s, first = C.setup_sessions("perfbench_live", False, wd.spark_conf())
    t0 = time.perf_counter()
    ip_pdf = make_ip_region_frame()
    ip_regions = spark.createDataFrame(ip_pdf)
    dim_s = time.perf_counter() - t0

    gates = C.Gates()
    phase = LivePhase(spark, ip_regions, wd, args.seed, args.seconds, 0, "live")
    res = phase.run(C.Tracer(False, ""))
    setup_s = session_s + dim_s + res["start_to_first_s"]
    rss_mb = C.peak_rss_mb(spark)  # before the gates run in this process
    phase.gates(gates, ip_pdf, "live")
    fresh = C.describe(res["freshness"])
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "throughput_per_s": res["rows_per_s"],
        "latency_p50_s": fresh["p50"],
        "latency_p75_s": fresh["p75"],
    }
    detail = {"workload": "medallion_live", "freshness": fresh,
              "session": first, "offered_rows_per_s": res["offered_rows_per_s"]}
    layer = {}
    attempted, failed = phase.n_files, res["n_missing"]
    if tracer.enabled:
        traced = LivePhase(spark, ip_regions, wd, args.seed, args.seconds, 500_000, "traced")
        tres = traced.run(tracer)
        tsinks = traced.gates(gates, ip_pdf, "traced")
        layer.update(_streaming_layers(tres["prog"], tsinks))
        tfresh = C.describe(tres["freshness"])
        attempted += traced.n_files
        failed += tres["n_missing"]
        layer.update({
            "live.offered_rows_per_s": tres["offered_rows_per_s"],
            "live.generator_late_p90_s": tres["generator_late_p90_s"],
            "live.files_landed": tres["files_landed"],
            "live.files_unreflected_end": tres["n_missing"],
            "live.freshness_samples": tfresh["n"],
            "trace.overhead_s": tfresh["p50"] - fresh["p50"],
        })
        cap = LivePhase(spark, ip_regions, wd, args.seed, CAPACITY_S, 900_000, "capacity",
                        rate=CAPACITY_RATE, grace_s=60.0)
        with tracer.span("live.capacity"):
            cres = cap.run(C.Tracer(False, ""))
        attempted += cap.n_files
        failed += cres["n_missing"]
        capacity = cres["drain_files_per_s"]
        layer["live.capacity_files_per_s"] = capacity
        layer["live.load_share"] = RATE / capacity if capacity else 0.0
        with tracer.span("backfill.drain_nproc"):
            rps = backfill_drain(spark, ip_regions, ip_pdf, wd, args.seed, "backlog_n", gates)
        spark.stop()
        spark, _ = C.start_session("perfbench_live_1core", 1, wd.spark_conf())
        ip_regions = spark.createDataFrame(ip_pdf)
        with tracer.span("backfill.drain_1core"):
            rps1 = backfill_drain(spark, ip_regions, ip_pdf, wd, args.seed, "backlog_1", gates)
        layer.update({
            "backfill.rows_per_s": rps,
            "backfill.rows_per_s_1core": rps1,
            "backfill.speedup": rps / rps1,
        })
    C.shutdown(spark)
    layer.update(C.session_layer(first, calib0, tracer))
    C.finish(args, tracer, "medallion_live", gates,
             attempted=attempted + len(gates.results),
             failed=failed + gates.failed,
             metrics=metrics, layer=layer, detail=detail)
