"""knn_batch: one client in a closed loop; each operation is a batch
kNN join of a fresh query batch against pre-normalized vectors at the
reference model's dimension (384).  The corpus is written directly as
parquet: ingesting it through the engine's write path would take far
longer than a run."""

from __future__ import annotations

import time

import numpy as np

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest, search

from perfbench import inputs
from perfbench.percentiles import summarize
from perfbench.workloads import SETUP_REPS, Context, Deadline, Result, attempt

SIZES = {
    "full": {"n": 50_000, "dim": 384, "queries": 1_000, "k": 10, "checked": 50},
    "tiny": {"n": 2_000, "dim": 32, "queries": 50, "k": 5, "checked": 10},
}


def run(ctx: Context) -> Result:
    p = SIZES[ctx.scale]
    n, dim, nq, k = p["n"], p["dim"], p["queries"], p["k"]
    spark, tr = ctx.spark, ctx.tracer
    r = inputs.rng_for(ctx.seed, "knn_batch")
    X = inputs.unit_rows(r.standard_normal((n, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    corpus_path = ctx.path("corpus")
    inputs.write_parquet(inputs.vector_table(ids, X), corpus_path, ctx.n_cpu)
    res = Result()

    # set-up: open the stored vectors and validate their dimension
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("setup", rep=rep):
            stats = ingest.collection_stats(spark.read.parquet(corpus_path)).collect()[0]
        res.setup_reps_s.append(time.perf_counter() - t0)
    if (stats["n_vectors"], stats["dim_min"], stats["dim_max"]) != (n, dim, dim):
        raise RuntimeError(f"corpus stats {stats} != ({n}, {dim}, {dim})")
    corpus = spark.read.parquet(corpus_path)

    def query_batch(tag: str, size: int) -> tuple[str, np.ndarray]:
        Q = r.standard_normal((size, dim)).astype(np.float32)
        path = ctx.path(f"queries-{tag}")
        inputs.write_parquet(inputs.vector_table(np.arange(size), Q, id_name="qid"), path, 1)
        return path, Q

    # warm-up (untimed): starts the Python workers the kernel runs in
    wpath, _ = query_batch("warm", 8)
    search.knn_join(spark.read.parquet(wpath), corpus, k=k).collect()

    def check(rows, Q) -> bool:
        by_q: dict[int, list] = {}
        for row in rows:
            by_q.setdefault(row["qid"], []).append(row)
        if len(by_q) != len(Q):
            return False
        sample = r.choice(len(Q), min(p["checked"], len(Q)), replace=False)
        ref_ids, ref_scores = inputs.topk_ref(X, ids, Q[sample], k)
        for qi, rid, rsc in zip(sample, ref_ids, ref_scores):
            got = sorted(by_q.get(int(qi), []), key=lambda row: row["rank"])
            if not inputs.same_topk([g["neighbor_id"] for g in got],
                                    [g["score"] for g in got], rid, rsc, k):
                return False
        return True

    batch_ms, driver_s = [], []
    deadline = Deadline(ctx.seconds)
    op = 0
    while deadline.open():
        op += 1
        qpath, Q = query_batch(str(op), nq)

        def do_join():
            t0 = time.perf_counter()
            with tr.span("op.knn"):
                with tr.span("search.knn_join", queries=nq, corpus=n):
                    joined = search.knn_join(spark.read.parquet(qpath), corpus, k=k)
                    driver_s.append(time.perf_counter() - t0)
                    rows = joined.select("qid", "neighbor_id", "score", "rank").collect()
            batch_ms.append((time.perf_counter() - t0) * 1e3)
            return check(rows, Q)

        attempt(res, do_join)
        res.items += nq

    res.op_ms = batch_ms
    res.busy_s = sum(batch_ms) / 1e3
    res.detail = {
        **summarize(batch_ms, "knn_batch"),
        "knn_queries_per_s": res.items / res.busy_s,
    }
    if ctx.traced:
        spans = tr.by_name("search.knn_join")
        busy = sum(s["end"] - s["start"] for s in spans)
        res.layer = {
            "search.pairs_scored_per_s": len(spans) * nq * n / busy if busy else 0.0,
            "search.knn_join.driver_s": float(np.mean(driver_s)) if driver_s else 0.0,
        }
    return res

