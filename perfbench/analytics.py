"""``analytics_mix``: one client runs a fixed, named subset of
``__spark_entry__.queries()`` in closed loop over the sf0.01 tables
vendored under ``perfbench/data/sf0.01``.

One query from each plan family (relational/TPC-H, temporal, mining,
lakehouse, training-data, analytics_ext), all with an ``oracle_sql()``
twin. The seed sets the query order. An untimed warm-up pass collects
every result and compares it with DuckDB running the oracle SQL, using
``tools/check_oracle.py``'s normalisation; the timed passes write each
query to the ``noop`` sink. The queries are small, so planning and
scheduling dominate: this is the workload that measures the ``plans``
layer.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from perfbench import common as C

DATA = os.path.join(C.BENCH_DIR, "data", "sf0.01")
# Untimed noop passes after the collecting warm-up pass. Query latency
# keeps falling for several passes while the JIT compiles the planner's
# hot paths; a fixed amount of warm-up work starts the timed passes from
# the same JVM state whatever the host's speed.
WARM_PASSES = 5
# Timed passes last at least ``--seconds`` and until this many queries
# ran, so that ten samples lie beyond the reported p75.
MIN_SAMPLES = 40

MIX = {
    "relational": ("q13_customer_distribution",),
    "temporal": ("interval_attribution",),
    "mining": ("event_funnel",),
    "lakehouse": ("scd2_priority_history",),
    "training_data": ("dedup_exact_documents",),
    "analytics_ext": ("customer_revenue_gini",),
}

# DuckDB result type -> the Spark types it may come back as; the same
# table as tools/check_oracle.py's type-compatibility rule (HUGEINT has
# no Spark twin and always fails).
DUCK_TO_SPARK = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "SMALLINT": {"smallint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "DATE": {"date"},
    "BOOLEAN": {"boolean"},
    "HUGEINT": set(),
}


def order(seed: int) -> list[tuple[str, str]]:
    pairs = [(fam, q) for fam, qs in MIX.items() for q in qs]
    perm = np.random.default_rng([seed, 11]).permutation(len(pairs))
    return [pairs[int(i)] for i in perm]


def compare(sdf_dtypes, srows, rel) -> str:
    """Same rules as tools/check_oracle.py: each column's Spark type must
    be one its DuckDB type maps to, column names compare as a set,
    values are normalised and sorted, then row count and row values.
    ``sdf_dtypes`` is the Spark frame's ``dtypes``."""
    from check_oracle import normalize

    ocols = list(rel.columns)
    otypes = [str(t) for t in rel.types]
    orows = normalize(rel.fetchall())
    scols = [c for c, _ in sdf_dtypes]
    stypes = dict(sdf_dtypes)
    srows = normalize(srows)
    bad_types = [
        f"type[{c}] spark={stypes[c]} duckdb={t}" for c, t in zip(ocols, otypes)
        if c in stypes and stypes[c] not in DUCK_TO_SPARK.get(t.split("(")[0], {stypes[c]})
    ]
    if bad_types:
        return "; ".join(bad_types)
    if sorted(scols) != sorted(ocols):
        return f"cols spark={scols} oracle={ocols}"
    if scols != ocols:
        sidx = [scols.index(c) for c in sorted(scols)]
        oidx = [ocols.index(c) for c in sorted(ocols)]
        srows = sorted(tuple(r[i] for i in sidx) for r in srows)
        orows = sorted(tuple(r[i] for i in oidx) for r in orows)
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} oracle={len(orows)}"
    if srows != orows:
        n_bad = sum(1 for a, b in zip(srows, orows) if a != b)
        return f"values differ in {n_bad}/{len(srows)} sorted rows"
    return ""


def timed_passes(spark, queries, mix, seconds: float, tracer: C.Tracer) -> dict:
    lat, build, exe, fam_lat, errors = [], 0.0, 0.0, {f: [] for f in MIX}, 0
    t_start = time.perf_counter()
    passes = 0
    while len(lat) + errors < MIN_SAMPLES or time.perf_counter() - t_start < seconds:
        for fam, name in mix:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"plans.build.{name}"):
                    df = queries[name](spark, DATA)
                t1 = time.perf_counter()
                with tracer.span(f"plans.exec.{name}"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is a failed operation
                C.log(f"query {name} failed: {exc}")
                errors += 1
                continue
            t2 = time.perf_counter()
            lat.append(t2 - t0)
            fam_lat[fam].append(t2 - t0)
            build += t1 - t0
            exe += t2 - t1
        passes += 1
    return {"lat": lat, "build": build, "exec": exe, "fam": fam_lat, "errors": errors,
            "wall": time.perf_counter() - t_start, "passes": passes}


def run(args, tracer: C.Tracer, wd: C.Workdir) -> None:
    sys.path.insert(0, os.path.join(C.ROOT, "tools"))
    import __spark_entry__ as entry
    from check_oracle import normalize  # noqa: F401  (fail early if absent)

    queries, oracles = entry.queries(), entry.oracle_sql()
    mix = order(args.seed)
    calib0 = C.calib() if tracer.enabled else 0.0
    spark, session_s, first = C.setup_sessions("perfbench_analytics", True, wd.spark_conf())

    gates = C.Gates()
    t0 = time.perf_counter()
    warm_rows = {}
    for fam, name in mix:
        try:
            df = queries[name](spark, DATA)
            warm_rows[name] = (df.dtypes, [tuple(r) for r in df.collect()])
        except Exception as exc:
            gates.check(f"warmup.{name}", False, f"spark error: {exc}")
    cold_s = time.perf_counter() - t0
    for _ in range(WARM_PASSES):
        for fam, name in mix:
            if name in warm_rows:
                queries[name](spark, DATA).write.format("noop").mode("overwrite").save()
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + warmup_s

    res = timed_passes(spark, queries, mix, args.seconds, C.Tracer(False, ""))
    # sampled before the oracle runs in this process
    rss_mb = C.peak_rss_mb(spark)
    check_oracles(gates, warm_rows, oracles)
    d = C.describe(res["lat"])
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "throughput_per_s": len(res["lat"]) / res["wall"],
        "latency_p50_s": d["p50"],
        "latency_p75_s": d["p75"],
    }
    detail = {"workload": "analytics_mix", "order": [q for _, q in mix], "latency": d,
              "passes": res["passes"], "samples": res["lat"], "session": first, "cold_pass_s": cold_s, "warmup_s": warmup_s}
    layer = {}
    attempted = len(mix) + len(res["lat"]) + res["errors"] + len(gates.results)
    errors = res["errors"]
    if tracer.enabled:
        tres = timed_passes(spark, queries, mix, args.seconds, tracer)
        attempted += len(tres["lat"]) + tres["errors"]
        errors += tres["errors"]
        n = len(tres["lat"])
        layer.update({
            "plans.build_s": tres["build"] / n,
            "plans.exec_s": tres["exec"] / n,
            "plans.warmup_pass_s": cold_s,
            "plans.query_samples": n,
            "trace.overhead_s": C.pct(tres["lat"], 0.5) - d["p50"],
            **{f"plans.{f}.p50_s": C.pct(v, 0.5) for f, v in tres["fam"].items()},
        })
    C.shutdown(spark)
    layer.update(C.session_layer(first, calib0, tracer))
    C.finish(args, tracer, "analytics_mix", gates, attempted=attempted,
             failed=gates.failed + errors, metrics=metrics, layer=layer, detail=detail)


def check_oracles(gates: C.Gates, warm_rows: dict, oracles: dict) -> None:
    """Compare each warm-up result with its oracle SQL on DuckDB."""
    import duckdb

    from investcloud_data_pipeline_spark.sources.batch import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    for name, (dtypes, rows) in warm_rows.items():
        problem = compare(dtypes, rows, con.sql(oracles[name]))
        gates.check(f"oracle.{name}", not problem, problem)
        if not rows:
            gates.check(f"nonempty.{name}", False, "query returned no rows")
    con.close()
