"""``corpus`` workload: the LLM-data dedup and search pipeline.

Set-up generates a corpus with planted near-duplicate edit chains and
clustered embeddings. Timed, in a closed loop until the run's seconds
are used (at least three rounds): one dedup pass (``simhash_pairs`` with the pair list written
as an artifact, ``connected_components`` over the pairs, keep one doc
per cluster, written) followed by two ``topk_lsh`` query batches.
Outside the timed region the pair and cluster counts are checked
against the planted structure (through an independent numpy SimHash)
and recall@10 of ``topk_lsh`` is measured against ``topk_brute``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen

SIZES = {
    "full": dict(docs=4000, chains=125, chain_len=8, vecs=4000, dim=64,
                 clusters=25, queries=16),
    "tiny": dict(docs=2000, chains=40, chain_len=6, vecs=2000, dim=64,
                 clusters=20, queries=8),
}
SETUP_REPS = 5
SEARCHES_PER_PASS = 2
#: every run makes at least this many passes, so its medians always
#: have the same number of samples behind them
MIN_PASSES = 3
K = 10

SPANS_S = {
    "operators.dedup.simhash_pairs": "operators.dedup.simhash_pairs_s",
    "operators.graph.connected_components": "operators.graph.connected_components_s",
    "operators.similarity.topk_lsh": "operators.similarity.topk_lsh_s",
}


def setup(bench, size: dict, root: str):
    rng = np.random.default_rng([bench.seed, 5])
    c = gen.corpus(rng, size["docs"], size["chains"], size["chain_len"])
    os.makedirs(root, exist_ok=True)
    gen.write_corpus(c, os.path.join(root, "docs.parquet"))
    gen.write_embeddings(
        gen.embeddings(rng, size["vecs"], size["dim"], size["clusters"]),
        os.path.join(root, "emb.parquet"))
    return c, rng


def dedup(bench, docs, out: str) -> dict:
    """One pass; returns pair and cluster counts read from its output."""
    import ceres_spark.operators.dedup as dd
    import ceres_spark.operators.graph as gr
    from pyspark.sql import functions as F

    spark = bench.spark
    shutil.rmtree(out, ignore_errors=True)
    with bench.span("operators.dedup.simhash_pairs"):
        dd.simhash_pairs(docs, block_col=None).select("doc_a", "doc_b") \
            .write.parquet(os.path.join(out, "pairs"))
    pairs = spark.read.parquet(os.path.join(out, "pairs"))
    with bench.span("operators.graph.connected_components"), \
            bench.job_group() as cc:
        comp = gr.connected_components(pairs, src="doc_a", dst="doc_b")
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id"))
    docs.join(dropped, "doc_id", "left_anti").write.parquet(os.path.join(out, "kept"))
    counts = spark.read.parquet(os.path.join(out, "pairs")).count(), \
        comp.select("comp").distinct().count(), \
        spark.read.parquet(os.path.join(out, "kept")).count()
    return {"pairs": counts[0], "clusters": counts[1], "kept": counts[2],
            "cc_jobs": cc.get("jobs", 0.0), "cc_counters": cc}


def search(bench, emb, queries, dim: int):
    import ceres_spark.operators.similarity as sim

    with bench.span("operators.similarity.topk_lsh"):
        return sim.topk_lsh(emb, queries, k=K, dim=dim).select(
            "query_id", "neighbor_id").collect()


def run(bench) -> dict:
    import ceres_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    size = SIZES[bench.size]
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        bench.start_session()
        root = os.path.join(bench.work, f"setup{rep}")
        c, rng = setup(bench, size, root)
        setups.append(time.perf_counter() - t0)
    spark = bench.spark
    docs = spark.read.parquet(os.path.join(root, "docs.parquet"))
    emb = spark.read.parquet(os.path.join(root, "emb.parquet"))
    n_vecs = size["vecs"]

    def batch():
        ids = np.sort(rng.choice(n_vecs, size["queries"], replace=False))
        return emb.filter(F.col("vec_id").isin([int(i) for i in ids]))

    # warm both operation types on a slice of the inputs
    warm_t0 = time.perf_counter()
    with bench.op("dedup", timed=False):
        dedup(bench, docs.limit(size["docs"] // 20), os.path.join(bench.work, "warm"))
    with bench.op("search", timed=False):
        search(bench, emb, batch(), size["dim"])
    warmup_s = time.perf_counter() - warm_t0

    bench.start_tracing()
    passes, searches, dedup_s = [], 0, []
    t0 = time.perf_counter()
    while len(dedup_s) < MIN_PASSES or time.perf_counter() - t0 < bench.seconds:
        d0 = time.perf_counter()
        res = None
        with bench.op("dedup"):
            res = dedup(bench, docs, os.path.join(bench.work, f"pass{len(passes)}"))
        dedup_s.append(time.perf_counter() - d0)
        if res is not None:
            passes.append(res)
            if bench.counters is not None:  # cc ran under its own group
                own = bench.counters.by_op["dedup"][-1]
                for k, v in res["cc_counters"].items():
                    own[k] += v
        for _ in range(SEARCHES_PER_PASS):
            with bench.op("search"):
                search(bench, emb, batch(), size["dim"])
            searches += 1

    # checks, outside the timed region
    sh = gen.simhash64(c.text)
    want_pairs = gen.expected_pairs(c.doc_id, sh)
    want_clusters = len(set(gen.clusters(want_pairs).values()))
    planted_pairs = size["chains"] * (size["chain_len"] - 1)
    want_kept = size["docs"] - size["chains"] * (size["chain_len"] - 1)
    for p in passes:
        bench.check(
            p["pairs"] == len(want_pairs) == planted_pairs
            and p["clusters"] == want_clusters == size["chains"]
            and p["kept"] == want_kept,
            f"dedup: {p['pairs']} pairs / {p['clusters']} clusters / {p['kept']} kept, "
            f"want {planted_pairs} / {size['chains']} / {want_kept}")
    q = batch()
    lsh = search(bench, emb, q, size["dim"])
    brute = sim.topk_brute(emb, q, k=K).select("query_id", "neighbor_id").collect()
    hit = len({tuple(r) for r in lsh} & {tuple(r) for r in brute})
    recall = hit / len(brute)

    lat_ms = [x * 1000 for x in bench.lat.get("search", [])]
    docs_per_s = size["docs"] / statistics.median(dedup_s)
    detail = {
        "dedup_docs_per_s": docs_per_s,
        "dedup_passes": len(passes),
        "search_calls": len(lat_ms),
        "search_queries_per_s": size["queries"] / statistics.median(lat_ms) * 1000
        if lat_ms else None,
        "search_recall_at_10": recall,
        "pairs": passes[0]["pairs"] if passes else None,
        "clusters": passes[0]["clusters"] if passes else None,
        "cc_jobs": passes[0]["cc_jobs"] if passes else None,
        "docs": size["docs"],
        "vectors": n_vecs,
        "warmup_s": warmup_s,
        "setup_reps_s": setups,
    }
    missing = []
    if bench.tracer is not None:
        missing = bench.layer_spans(SPANS_S, scale=1.0)
        bench.layer["operators.dedup.pairs"] = float(passes[0]["pairs"]) if passes else 0.0
        bench.layer["operators.graph.cc_jobs"] = (
            statistics.median(p["cc_jobs"] for p in passes) if passes else 0.0)
    return {
        "setup_s": statistics.median(setups),
        "latency_p50_ms": statistics.median(lat_ms) if lat_ms else float("nan"),
        "throughput_per_s": docs_per_s,
        "detail": detail,
        "missing_spans": missing,
    }
