"""point_search: one client in a closed loop; single-query exact top-10
cosine search over a sharded collection, with a keyed upsert of 64
vectors after every 5 searches.  The search after each upsert asks for
an upserted vector (read-your-writes)."""

from __future__ import annotations

import time

import numpy as np

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest, search

from perfbench import inputs
from perfbench.percentiles import summarize
from perfbench.workloads import SETUP_REPS, Context, Deadline, Result, attempt

SIZES = {
    "full": {"n": 10_000, "dim": 64, "shards": 8, "batch": 64, "every": 5, "k": 10},
    "tiny": {"n": 2_000, "dim": 16, "shards": 4, "batch": 8, "every": 2, "k": 5},
}

#: untimed searches before the measured window: searches keep getting
#: faster for several seconds after set-up (JIT compilation)
WARMUP_S = 5.0


class Mirror:
    """The collection as the benchmark expects it: id → raw vector."""

    def __init__(self, ids: np.ndarray, X: np.ndarray):
        self.rows = {int(i): x for i, x in zip(ids, X)}

    def upsert(self, ids, X) -> None:
        for i, x in zip(ids, X):
            self.rows[int(i)] = x

    def topk(self, q, k):
        ids = np.fromiter(self.rows.keys(), dtype=np.int64, count=len(self.rows))
        X = np.stack(list(self.rows.values()))
        ref_ids, ref_scores = inputs.topk_ref(X, ids, q, k)
        return ref_ids[0], ref_scores[0]


def run(ctx: Context) -> Result:
    p = SIZES[ctx.scale]
    n, dim, shards, k = p["n"], p["dim"], p["shards"], p["k"]
    spark, tr = ctx.spark, ctx.tracer
    r = inputs.rng_for(ctx.seed, "point_search")
    X = r.standard_normal((n, dim)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    src = ctx.path("input")
    inputs.write_parquet(inputs.vector_table(ids, X), src, ctx.n_cpu)
    row_bytes = dim * 4 + 8
    res = Result()

    # set-up: build the collection through the write path, several times
    for rep in range(SETUP_REPS):
        coll = ctx.path(f"collection-{rep}")
        t0 = time.perf_counter()
        with tr.span("setup", rep=rep):
            with tr.span("ingest.prepare_vectors", rows=n):
                prepared, _ = ctx.materialize(
                    ingest.prepare_vectors(spark.read.parquet(src), dim, shards)
                )
            with tr.span("ingest.write_collection", rows=n):
                ingest.write_collection(prepared, coll, shards)
        res.setup_reps_s.append(time.perf_counter() - t0)
        ctx.release()
    written = inputs.dir_bytes(coll) * SETUP_REPS  # bytes the engine wrote
    mirror = Mirror(ids, X)

    # warm-up (untimed)
    warm = Deadline(WARMUP_S)
    while warm.open():
        search.collection_topk(spark, coll, r.standard_normal(dim).tolist(), k=k).collect()

    search_ms, upsert_ms = [], []
    hits = 0
    touched, rewritten, upserted = [], 0, 0
    next_id = n

    def do_search(q, must_first) -> bool:
        nonlocal hits
        t0 = time.perf_counter()
        with tr.span("op.search"):
            with tr.span("search.collection_topk"):
                rows = search.collection_topk(spark, coll, q.tolist(), k=k).collect()
        search_ms.append((time.perf_counter() - t0) * 1e3)
        hits += len(rows)
        got_ids = [row["vec_id"] for row in rows]
        ref_ids, ref_scores = mirror.topk(q, k)
        ok = inputs.same_topk(got_ids, [row["score"] for row in rows], ref_ids, ref_scores, k)
        if must_first is not None:
            ok = ok and bool(got_ids) and got_ids[0] == must_first
        return ok

    def do_upsert(up_path, up_ids, up_X) -> bool:
        nonlocal rewritten, upserted, written
        t0 = time.perf_counter()
        with tr.span("op.upsert"):
            with tr.span("ingest.upsert_collection", rows=len(up_ids)):
                out = ingest.upsert_collection(
                    spark, coll, spark.read.parquet(up_path), shards, dim
                )
        upsert_ms.append((time.perf_counter() - t0) * 1e3)
        mirror.upsert(up_ids, up_X)
        touched.append(len(out["touched_shards"]))
        rewritten += out["rows_written"]
        upserted += len(up_ids)
        # each touched shard directory was rewritten in full
        written += sum(inputs.dir_bytes(f"{coll}/shard={s}") for s in out["touched_shards"])
        return out["rows_written"] >= len(up_ids)

    # whole cycles only, so every run has the same mix of operations
    deadline = Deadline(ctx.seconds)
    ryw = None  # (upserted vector, its id): must be the next search's top hit
    cycle = 0
    while deadline.open():
        cycle += 1
        for _ in range(p["every"]):
            q, must_first = ryw if ryw else (r.standard_normal(dim).astype(np.float32), None)
            ryw = None
            attempt(res, do_search, q, must_first)
        # keyed upsert: half replace existing ids, half are new
        b = p["batch"]
        old = r.choice(next_id, b // 2, replace=False)
        new = np.arange(next_id, next_id + b - b // 2, dtype=np.int64)
        next_id += len(new)
        up_ids = np.concatenate([old, new]).astype(np.int64)
        up_X = r.standard_normal((b, dim)).astype(np.float32)
        up_path = ctx.path(f"upsert-{cycle}")
        inputs.write_parquet(inputs.vector_table(up_ids, up_X), up_path, 1)
        if attempt(res, do_upsert, up_path, up_ids, up_X):
            pick = int(r.integers(b))
            ryw = (up_X[pick], int(up_ids[pick]))

    # the stored collection holds exactly the expected rows
    attempt(res, lambda: spark.read.parquet(coll).count() == len(mirror.rows))

    stored = inputs.dir_bytes(coll)
    res.op_ms = search_ms
    res.items = len(search_ms) + len(upsert_ms)
    res.busy_s = (sum(search_ms) + sum(upsert_ms)) / 1e3
    res.detail = {
        **summarize(search_ms, "search"),
        **summarize(upsert_ms, "upsert"),
        "stored_bytes_per_user_byte": stored / (len(mirror.rows) * row_bytes),
    }
    if ctx.traced:
        scanned = sum(s["counters"]["input_records"] for s in tr.by_name("search.collection_topk"))
        res.layer = {
            "search.rows_scanned_per_hit": scanned / max(hits, 1),
            "ingest.rows_rewritten_per_row_upserted": rewritten / max(upserted, 1),
            "ingest.shards_touched_per_upsert": float(np.mean(touched)) if touched else 0.0,
            "ingest.bytes_written_per_user_byte": written
            / ((n * SETUP_REPS + upserted) * row_bytes),
        }
    return res
