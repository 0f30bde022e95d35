"""stream_serve: open loop.  One generator thread drops one query file
per request on a fixed schedule; the engine's streaming search answers
them in micro-batches against a persisted corpus.  Each query's
latency runs from when it was due, so a stall also delays the queries
queued behind it."""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

import numpy as np

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import serving

from perfbench import inputs
from perfbench.percentiles import summarize
from perfbench.procinfo import log
from perfbench.workloads import SETUP_REPS, Context, Result, attempt

#: ``rate`` is about half the capacity measured on a 4-CPU host with
#: ``max_files`` queries per micro-batch (about 30 queries/s).
SIZES = {
    "full": {"n": 50_000, "dim": 64, "k": 10, "max_files": 32, "rate": 15.0},
    "tiny": {"n": 2_000, "dim": 16, "k": 5, "max_files": 8, "rate": 5.0},
}

#: untimed (but checked) operations before the measured window:
#: the first seconds after the stream starts run slower batches
#: (JIT compilation, still visible 10 s in), which would otherwise
#: land in the window
WARMUP_S = 15.0


def _wall(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def run(ctx: Context) -> Result:
    p = SIZES[ctx.scale]
    n, dim, k, rate = p["n"], p["dim"], p["k"], p["rate"]
    spark, tr = ctx.spark, ctx.tracer
    r = inputs.rng_for(ctx.seed, "stream_serve")
    X = inputs.unit_rows(r.standard_normal((n, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    corpus_path = ctx.path("corpus")
    inputs.write_parquet(inputs.vector_table(ids, X), corpus_path, ctx.n_cpu)
    res = Result()

    # set-up: load the corpus into the session's cache, several times
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("setup", rep=rep):
            corpus = spark.read.parquet(corpus_path).persist()
            loaded = corpus.count()
        res.setup_reps_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            corpus.unpersist(blocking=True)
    if loaded != n:
        raise RuntimeError(f"corpus holds {loaded} rows, expected {n}")

    # the first WARMUP_S seconds of the schedule are answered and
    # checked but not timed
    n_warm = int(rate * WARMUP_S)
    n_queries = n_warm + max(1, int(rate * ctx.seconds))
    Q = r.standard_normal((n_queries, dim)).astype(np.float32)
    src = ctx.path("requests")
    os.makedirs(src)

    def send(qids, vecs) -> None:
        table = inputs.vector_table(np.asarray(qids), vecs, id_name="qid")
        inputs.write_file(table, os.path.join(src, f"q{qids[0]}.parquet"))

    lock = threading.Lock()
    answers: dict[int, list] = {}
    answered_at: dict[int, float] = {}
    batch_of: dict[int, int] = {}
    batch_end: dict[int, float] = {}
    batch_counters: dict[int, dict] = {}
    repeats = 0
    seen_jobs: set = set()

    def on_batch(hits, batch_id: int) -> None:
        nonlocal repeats
        rows = hits.collect()
        now = time.time()
        counters = None
        if ctx.traced:
            # micro-batch jobs run in the stream's job group (its run id)
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            counters = tr.counters.read(group, seen_jobs)
        with lock:
            batch_end[batch_id] = now
            if counters is not None:
                batch_counters[batch_id] = counters
            qids = {row["qid"] for row in rows}
            for qid in qids:
                if qid in answered_at:
                    repeats += 1
                answered_at[qid] = now
                batch_of[qid] = batch_id
            for row in rows:
                answers.setdefault(row["qid"], []).append(row)

    # warm-up (untimed): the first micro-batch starts workers and JIT
    warm = r.standard_normal((4, dim)).astype(np.float32)
    send([-4, -3, -2, -1], warm)
    query = serving.stream_search(
        spark, src, corpus, on_batch, k=k,
        reader_options={"maxFilesPerTrigger": p["max_files"]},
    )
    try:
        query.processAllAvailable()
        with lock:
            for qid in (-4, -3, -2, -1):
                answers.pop(qid, None)
                answered_at.pop(qid, None)
                batch_of.pop(qid, None)
        first_batch = max(batch_end) + 1 if batch_end else 0

        due = time.time() + 0.05
        late_ms: list[float] = []

        def generate() -> None:
            for i in range(n_queries):
                t = due + i / rate
                pause = t - time.time()
                if pause > 0:
                    time.sleep(pause)
                send([i], Q[i:i + 1])
                late_ms.append(max(0.0, time.time() - t) * 1e3)

        gen = threading.Thread(target=generate, name="loadgen")
        gen.start()
        gen.join(timeout=WARMUP_S + ctx.seconds + 60)
        if gen.is_alive():
            raise RuntimeError("load generator did not finish")
        query.processAllAvailable()
        progress = [pr for pr in query.recentProgress if pr.batchId >= first_batch]
    finally:
        query.stop()
        corpus.unpersist()

    batch_start = {pr.batchId: _wall(pr.timestamp) for pr in progress}
    latency_ms, wait_ms = [], []
    for qid in range(n_warm, n_queries):
        t_due = due + qid / rate
        if qid in answered_at:
            latency_ms.append((answered_at[qid] - t_due) * 1e3)
            start = batch_start.get(batch_of[qid])
            if start is not None:
                wait_ms.append(max(0.0, start - t_due) * 1e3)

    # checks: every query answered exactly once, each answer exact
    ref_ids, ref_scores = inputs.topk_ref(X, ids, Q, k)

    def check_query(qid: int) -> bool:
        got = sorted(answers.get(qid, []), key=lambda row: row["rank"])
        return inputs.same_topk([g["neighbor_id"] for g in got], [g["score"] for g in got],
                                ref_ids[qid], ref_scores[qid], k)

    for qid in range(n_queries):
        attempt(res, check_query, qid)
    if repeats:
        log(f"stream_serve: {repeats} queries answered more than once")
        res.failed += repeats
    extra = set(answers) - set(range(n_queries))
    if extra:
        log(f"stream_serve: answers for unknown query ids {sorted(extra)[:5]}")
        res.failed += len(extra)

    last = max(answered_at.values()) if answered_at else due
    res.op_ms = latency_ms
    res.items = sum(1 for qid in answered_at if qid >= n_warm)
    res.busy_s = last - (due + n_warm / rate)
    per_batch = [sum(1 for b in batch_of.values() if b == bid) for bid in batch_start]
    res.detail = {
        **summarize(latency_ms, "serve"),
        "offered_queries_per_s": rate,
    }
    if ctx.traced:
        offset = time.time() - tr.now()
        for bid, start in batch_start.items():
            if bid in batch_end:
                tr.add("streaming.batch", start - offset, batch_end[bid] - offset,
                       counters=batch_counters.get(bid), batch=bid)
        res.layer = {
            "streaming.queries_per_batch": float(np.mean(per_batch)) if per_batch else 0.0,
            "streaming.wait_ms": float(np.median(wait_ms)) if wait_ms else 0.0,
            "loadgen.late_ms": float(np.mean(late_ms)) if late_ms else 0.0,
        }
    return res
