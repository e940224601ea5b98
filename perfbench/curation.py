"""``corpus_curation``: a batch training-data job over a seeded corpus.

The corpus has known exact-duplicate groups (copies that differ only in
case, spacing and punctuation), known near-duplicate groups (copies
with two words replaced and a slightly perturbed embedding), docs that
the text gates must drop (control characters, too short), and 64-d
embeddings. The fused job runs

    text.unicode_cleanup → text.gopher_quality_gate → dedup_fuzzy.exact_dedup
    → dedup_fuzzy.minhash_lsh_candidates → graph.connected_components
    → dedup_fuzzy.embedding_near_dup_pairs_fast → survivor shard (parquet)

It stresses shuffles, md5-heavy aggregates and the Python boundary and
bypasses streaming entirely. The traced run materialises each stage on
its own to time it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from itertools import combinations

import numpy as np

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402

N_BASE = 1_000         # distinct source documents
EXACT_FRAC = 0.05      # share of sources that get 1-3 exact copies
NEAR_FRAC = 0.05       # share of sources that get 1-2 near copies
BAD_FRAC = 0.03        # share of extra documents the text gates must drop
DIM = 64
RECALL_FLOOR = 0.9     # LSH candidate recall against the generated truth
EMB_THRESHOLD = 0.9


def _vocab(rng, n=3000) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vi", "do", "pe", "ar", "on",
           "is", "ul", "em", "go", "tri", "bel", "mor", "fen"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def make_corpus(seed: int, n_base: int) -> dict:
    """Seeded corpus and its ground truth. Ids: sources first, then
    copies, so every group's smallest id is its source."""
    from investcloud_data_pipeline_spark.operators.text import GOPHER_STOPWORDS

    rng = np.random.default_rng([seed, 7])
    vocab = _vocab(rng)
    texts, embs, kind = [], [], []

    def doc_words(n):
        # a stopword after every fifth word: prose by the Gopher rules
        words = []
        for j, w in enumerate(rng.integers(0, len(vocab), n)):
            words.append(vocab[int(w)])
            if j % 5 == 4:
                words.append(GOPHER_STOPWORDS[int(rng.integers(0, len(GOPHER_STOPWORDS)))])
        return words

    def render(words):
        out, sent = [], 0
        for i, w in enumerate(words):
            if sent == 0:
                w = w.capitalize()
            sent += 1
            if sent >= 12 or i == len(words) - 1:
                w += "."
                sent = 0
            out.append(w)
        return " ".join(out)

    base_words = []
    for _ in range(n_base):
        words = doc_words(int(rng.integers(60, 90)))
        base_words.append(words)
        texts.append(render(words))
        v = rng.standard_normal(DIM)
        embs.append(v / np.linalg.norm(v))
        kind.append("base")

    exact_groups: dict[int, list[int]] = {}
    near_groups: dict[int, list[int]] = {}
    picks = rng.permutation(n_base)
    n_exact, n_near = int(n_base * EXACT_FRAC), int(n_base * NEAR_FRAC)
    for src in picks[:n_exact]:
        src = int(src)
        exact_groups[src] = [src]
        for c in range(int(rng.integers(1, 4))):
            t = texts[src]
            t = [t.upper(), t.replace(" ", "  "), t.replace(".", " ,")][c % 3]
            exact_groups[src].append(len(texts))
            texts.append(t)
            embs.append(embs[src])
            kind.append("exact")
    for src in picks[n_exact:n_exact + n_near]:
        src = int(src)
        near_groups[src] = [src]
        for _ in range(int(rng.integers(1, 3))):
            words = list(base_words[src])
            for pos in rng.choice(len(words), 2, replace=False):
                words[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
            near_groups[src].append(len(texts))
            texts.append(render(words))
            v = embs[src] + 0.05 * rng.standard_normal(DIM) / np.sqrt(DIM)
            embs.append(v / np.linalg.norm(v))
            kind.append("near")
    for b in range(int(n_base * BAD_FRAC)):
        if b % 2:
            t = render(doc_words(20))                      # gopher: too short
        else:
            words = doc_words(70)
            t = render(words).replace(" ", " \x01", 40)    # control characters
        texts.append(t)
        v = rng.standard_normal(DIM)
        embs.append(v / np.linalg.norm(v))
        kind.append("bad")
    return {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "embedding": np.vstack(embs),
        "kind": np.array(kind),
        "exact_groups": exact_groups,
        "near_groups": near_groups,
    }


def write_corpus(corpus: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = corpus["embedding"]
    table = pa.table({
        "doc_id": corpus["doc_id"],
        "text": corpus["text"],
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1), pa.float64()), emb.shape[1]).cast(
            pa.list_(pa.float64())),
    })
    os.makedirs(path, exist_ok=True)
    # four files so the scan has one split per core on a 4-core host
    step = -(-len(table) // 4)
    for i in range(4):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def curate(spark, corpus_path: str, out_path: str, tracer: C.Tracer, staged: bool) -> dict:
    """Run the curation job; it ends when the survivor shard is written.
    ``staged`` materialises each stage before the next (traced run);
    otherwise the stages stay lazy and run as the actions they need.
    Returns the cached stage frames for :func:`collect` and, when
    staged, the seconds per stage."""
    from pyspark.sql import functions as F

    from investcloud_data_pipeline_spark.operators import dedup_fuzzy as DF
    from investcloud_data_pipeline_spark.operators import graph as G
    from investcloud_data_pipeline_spark.operators import text as TX

    stage_s: dict[str, float] = {}
    held = []

    def stage(name, df):
        if not staged:
            return df
        t0 = time.perf_counter()
        with tracer.span(name):
            df = df.persist()
            df.count()
        held.append(df)
        stage_s[name] = time.perf_counter() - t0
        return df

    docs = spark.read.parquet(corpus_path)
    cleaned = stage("text.unicode_cleanup", TX.unicode_cleanup(docs).filter("keep")
                    .select("doc_id", F.col("text_clean").alias("text")))
    gate = TX.gopher_quality_gate(cleaned).filter("keep").select("doc_id")
    kept = stage("text.gopher_gate", cleaned.join(gate, "doc_id"))
    exact = stage("dedup.exact", DF.exact_dedup(kept).persist())
    # the exact-dedup survivors feed three consumers (banding, the
    # embedding input, the survivor shard): computed once, kept cached
    uniq = kept.join(exact.select(F.col("keep_id").alias("doc_id")), "doc_id").persist()
    held.append(uniq)
    cands = stage("dedup.minhash_candidates", DF.minhash_lsh_candidates(uniq).persist())
    t0 = time.perf_counter()
    with tracer.span("graph.components"):
        comps = G.connected_components(
            cands.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        ).persist()
        if staged:
            comps.count()
    stage_s["graph.components"] = time.perf_counter() - t0
    non_roots = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"))
    clustered = uniq.join(non_roots, "doc_id", "left_anti")
    emb = clustered.join(docs.select("doc_id", "embedding"), "doc_id").select(
        F.col("doc_id").alias("vec_id"), "embedding").repartition(4 * C.NPROC)
    t0 = time.perf_counter()
    with tracer.span("dedup.embedding_pairs"):
        epairs = DF.embedding_near_dup_pairs_fast(emb, threshold=EMB_THRESHOLD).persist()
        if staged:
            epairs.count()
    stage_s["dedup.embedding_pairs"] = time.perf_counter() - t0
    survivors = clustered.join(
        epairs.select(F.col("id2").alias("doc_id")), "doc_id", "left_anti")
    t0 = time.perf_counter()
    with tracer.span("curate.write"):
        survivors.write.mode("overwrite").parquet(out_path)
    stage_s["curate.write"] = time.perf_counter() - t0
    return {"kept": kept, "exact": exact, "cands": cands, "comps": comps,
            "epairs": epairs, "held": held, "stage_s": stage_s, "staged": staged}


def collect(job: dict) -> dict:
    """Pull the small results the gates read (after the timed region)
    and release the cached stages."""
    res = {
        "kept": [r[0] for r in job["kept"].select("doc_id").collect()]
        if job["staged"] else None,
        "exact": [(r.keep_id, r.n_copies) for r in job["exact"].filter("n_copies > 1").collect()],
        "cands": [(r.id1, r.id2) for r in job["cands"].collect()],
        "components": len({r.component for r in job["comps"].select("component").collect()}),
        "epairs": len(job["epairs"].select("id1").collect()),
        "stage_s": job["stage_s"],
    }
    for name in ("exact", "cands", "comps", "epairs"):
        job[name].unpersist()
    for df in job["held"]:
        df.unpersist()
    return res


def _truth_pairs(groups: dict[int, list[int]]) -> set[tuple[int, int]]:
    return {pair for ids in groups.values() for pair in combinations(sorted(ids), 2)}


def check(gates: C.Gates, corpus: dict, res: dict, out_path: str, tag: str) -> dict:
    import pyarrow.parquet as pq

    kind = corpus["kind"]
    want_exact = sorted((src, len(ids)) for src, ids in corpus["exact_groups"].items())
    gates.check(f"{tag}.exact_groups", sorted(res["exact"]) == want_exact,
                f"{len(res['exact'])} exact groups vs {len(want_exact)} generated")
    truth = _truth_pairs(corpus["near_groups"])
    cands = set(res["cands"])
    hit = len(cands & truth)
    recall = hit / len(truth) if truth else 1.0
    precision = hit / len(cands) if cands else 0.0
    gates.check(f"{tag}.lsh_recall", recall >= RECALL_FLOOR,
                f"recall {recall:.3f} below floor {RECALL_FLOOR}")
    survivors = set(pq.read_table(out_path, columns=["doc_id"]).column("doc_id").to_pylist())
    want = {int(i) for i in corpus["doc_id"][(kind == "base")]}
    gates.check(f"{tag}.survivors", survivors == want,
                f"{len(survivors)} survivors vs {len(want)} sources")
    if res["kept"] is not None:
        want_kept = {int(i) for i in corpus["doc_id"][kind != "bad"]}
        gates.check(f"{tag}.text_gates", set(res["kept"]) == want_kept,
                    f"{len(res['kept'])} kept vs {len(want_kept)} clean docs")
    return {
        "dedup.exact_groups": len(res["exact"]),
        "dedup.candidate_pairs": len(cands),
        "dedup.candidate_precision": precision,
        "dedup.candidate_recall": recall,
        "dedup.embedding_pairs": res["epairs"],
        "graph.components": res["components"],
        "curate.survivors": len(survivors),
        "curate.bytes_out": C.dir_bytes(out_path),
    }


def run(args, tracer: C.Tracer, wd: C.Workdir) -> None:
    calib0 = C.calib() if tracer.enabled else 0.0
    # written by a child process, so that generating it does not count
    # in this process's peak RSS
    corpus_path = wd.sub("corpus")
    subprocess.run([sys.executable, os.path.abspath(__file__), "--seed", str(args.seed),
                    "--out", corpus_path], check=True)

    spark, setup_s, first = C.setup_sessions("perfbench_curation", True, wd.spark_conf())

    # A curation job runs once per session in production, so the timed
    # jobs start cold: no warm-up job runs first.
    def fused(tag: str) -> tuple[float, dict, str]:
        out = wd.sub(f"out_{tag}")
        t0 = time.perf_counter()
        job = curate(spark, corpus_path, out, C.Tracer(False, ""), staged=False)
        wall = time.perf_counter() - t0
        return wall, collect(job), out

    jobs = []
    t_start = time.perf_counter()
    while not jobs or time.perf_counter() - t_start < args.seconds:
        jobs.append(fused(f"job{len(jobs) + 1}"))
    rss_mb = C.peak_rss_mb(spark)  # before the gates run in this process
    corpus = make_corpus(args.seed, N_BASE)
    n_docs = len(corpus["doc_id"])
    gates = C.Gates()
    for i, (_, res, out) in enumerate(jobs):
        check(gates, corpus, res, out, f"job{i + 1}")
    d = C.describe([wall for wall, _, _ in jobs])
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "throughput_per_s": n_docs / d["p50"],
        "latency_p50_s": d["p50"],
        "latency_p75_s": d["p75"],
    }
    detail = {"workload": "corpus_curation", "docs": n_docs, "job_wall": d,
              "session": first}
    layer = {}
    attempted = len(jobs)
    if tracer.enabled:
        # staged (traced) and fused (untraced) jobs, both warm, give the
        # tracing overhead; the stage spans give the per-layer split
        out = wd.sub("out_traced")
        t0 = time.perf_counter()
        with tracer.span("curate.job"):
            job = curate(spark, corpus_path, out, tracer, staged=True)
        traced_wall = time.perf_counter() - t0
        res = collect(job)
        layer.update(check(gates, corpus, res, out, "traced"))
        warm_wall, warm_res, warm_out = fused("warm")
        check(gates, corpus, warm_res, warm_out, "warm")
        attempted += 2
        s = res["stage_s"]
        layer.update({
            "text.unicode_cleanup_s": s["text.unicode_cleanup"],
            "text.gopher_gate_s": s["text.gopher_gate"],
            "text.docs_kept": len(res["kept"]),
            "dedup.exact_s": s["dedup.exact"],
            "dedup.minhash_candidates_s": s["dedup.minhash_candidates"],
            "dedup.embedding_pairs_s": s["dedup.embedding_pairs"],
            "graph.components_s": s["graph.components"],
            "curate.write_s": s["curate.write"],
            "trace.overhead_s": traced_wall - warm_wall,
        })
    C.shutdown(spark)
    layer.update(C.session_layer(first, calib0, tracer))
    C.finish(args, tracer, "corpus_curation", gates,
             attempted=attempted + len(gates.results),
             failed=gates.failed, metrics=metrics, layer=layer, detail=detail)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="write the seeded corpus")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    C.import_package()
    write_corpus(make_corpus(a.seed, N_BASE), a.out)
