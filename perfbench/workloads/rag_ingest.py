"""rag_ingest: corpus increments of synthetic documents, 10 % of them
planted near-duplicates, each run through dedup → chunk → embed →
normalize/shard → append; after each increment a batch of questions is
answered with the batch kNN join, join-back and context assembly."""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
    hash_embedding_udf,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    dedup,
    ingest,
    search,
)

from perfbench import inputs
from perfbench.percentiles import summarize
from perfbench.procinfo import log
from perfbench.workloads import SETUP_REPS, Context, Deadline, Result, attempt

SIZES = {
    "full": {"docs": 30, "base_docs": 10, "dim": 384, "shards": 4, "max_words": 120,
             "questions": 50, "q_words": 30, "k": 4},
    "tiny": {"docs": 10, "base_docs": 5, "dim": 128, "shards": 2, "max_words": 120,
             "questions": 5, "q_words": 30, "k": 4},
}

#: untimed (but checked) operations before the measured window, about
#: four cycles: the set-up ran the ingest path but not the question
#: path, and cycles keep getting faster for a while after it (JIT
#: compilation)
WARMUP_S = 12.0

DUP_SHARE = 0.10
THRESHOLD = 0.8


class Expected:
    """What the collection must hold after the batches ingested so far."""

    def __init__(self):
        self.chunks: list[str] = []
        self.user_bytes = 0
        self.planted = 0
        self.found = 0

    def account(self, ids, texts, planted: dict, pairs, max_words: int) -> bool:
        """Record one ingested batch; True when dedup flagged only
        planted pairs."""
        truth = {(min(d, s), max(d, s)) for d, s in planted.items()}
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        self.planted += len(truth)
        self.found += len(truth & found)
        dropped = {b for _, b in found}
        for i, t in zip(ids, texts):
            if int(i) not in dropped:
                self.chunks.extend(inputs.chunk_words(t, max_words))
                self.user_bytes += len(t.encode())
        return found <= truth


def run(ctx: Context) -> Result:
    p = SIZES[ctx.scale]
    dim, shards, max_words, k = p["dim"], p["shards"], p["max_words"], p["k"]
    spark, tr = ctx.spark, ctx.tracer
    r = inputs.rng_for(ctx.seed, "rag_ingest")
    vocab = inputs.vocabulary(ctx.seed)
    embed = hash_embedding_udf(dim=dim)
    res = Result()
    next_id = 0

    def new_batch(n: int, tag: str):
        nonlocal next_id
        ids, texts, planted = inputs.make_documents(r, vocab, next_id, n, DUP_SHARE)
        next_id += n
        path = ctx.path(f"docs-{tag}")
        inputs.write_parquet(pa.table({"doc_id": ids, "text": texts}), path, ctx.n_cpu)
        return path, ids, texts, planted

    def ingest_docs(coll: str, path: str, n_docs: int) -> list:
        """The ingest pipeline on one batch; returns the near-dup pairs."""
        docs = spark.read.parquet(path)
        with tr.span("dedup.near_dup_pairs", docs=n_docs):
            pairs = [
                (row["id_a"], row["id_b"])
                for row in dedup.near_dup_pairs(docs, threshold=THRESHOLD).collect()
            ]
        drop = sorted({max(a, b) for a, b in pairs})
        kept = docs.filter(~F.col("doc_id").isin(drop)) if drop else docs
        with tr.span("ingest.chunk_documents"):
            chunks, _ = ctx.materialize(ingest.chunk_documents(kept, max_words=max_words))
        with tr.span("functions.embed") as sp:
            embedded, rows = ctx.materialize(
                chunks.select("doc_id", "chunk_id", "chunk_text",
                              embed("chunk_text").alias("emb"))
            )
            if sp is not None:
                sp["attrs"]["rows"] = rows
        with tr.span("ingest.prepare_vectors") as sp:
            prepared, rows = ctx.materialize(
                ingest.prepare_vectors(embedded, dim, shards, id_col="chunk_id", vec_col="emb")
            )
            if sp is not None:
                sp["attrs"]["rows"] = rows
        with tr.span("ingest.write_collection"):
            ingest.write_collection(prepared, coll, shards, mode="append")
        ctx.release()
        return pairs

    def ingest_checked(coll, path, ids, texts, planted, exp: Expected, times: list) -> bool:
        t0 = time.perf_counter()
        pairs = ingest_docs(coll, path, len(ids))
        times.append((time.perf_counter() - t0) * 1e3)
        if not exp.account(ids, texts, planted, pairs, max_words):
            log(f"rag_ingest: dedup flagged unplanted pairs: {pairs}")
            return False
        stored = spark.read.parquet(coll).count()
        if stored != len(exp.chunks):
            log(f"rag_ingest: collection holds {stored} chunks, expected {len(exp.chunks)}")
            return False
        return True

    # set-up: create the collection from a base batch, several times;
    # the last repetition's collection is the one used from here on
    setup_ms: list = []
    for rep in range(SETUP_REPS):
        coll = ctx.path(f"collection-{rep}")
        exp = Expected()
        batch = new_batch(p["base_docs"], f"base-{rep}")
        with tr.span("setup", rep=rep):
            if not ingest_checked(coll, *batch, exp, setup_ms):
                raise RuntimeError("set-up ingest failed its checks")
    res.setup_reps_s = [ms / 1e3 for ms in setup_ms]

    def ask(op: int, times: list) -> bool:
        """Answer a batch of questions, each a span of words from one
        stored chunk; True when every context holds its source chunk."""
        nonlocal hit
        nq = p["questions"]
        sources = [exp.chunks[i] for i in r.integers(0, len(exp.chunks), nq)]
        texts = []
        for src in sources:
            words = src.split()
            lo = int(r.integers(0, max(1, len(words) - p["q_words"] + 1)))
            texts.append(" ".join(words[lo:lo + p["q_words"]]))
        qpath = ctx.path(f"questions-{op}")
        inputs.write_parquet(pa.table({"qid": list(range(nq)), "text": texts}), qpath, 1)
        t0 = time.perf_counter()
        with tr.span("op.questions"):
            with tr.span("rag.answer", questions=nq):
                questions = spark.read.parquet(qpath)
                with tr.span("functions.embed") as sp:
                    qv, rows = ctx.materialize(
                        questions.select("qid", embed("text").alias("emb"))
                    )
                    if sp is not None:
                        sp["attrs"]["rows"] = rows
                corpus = spark.read.parquet(coll)
                with tr.span("search.knn_join", queries=nq, corpus=len(exp.chunks)):
                    t_call = time.perf_counter()
                    hits = search.knn_join(
                        qv, corpus, k=k, query_vec="emb", id_col="chunk_id", vec_col="emb"
                    )
                    driver_s.append(time.perf_counter() - t_call)
                    hits, _ = ctx.materialize(hits)
                context = ingest.assemble_context(
                    ingest.join_back(
                        hits.withColumnRenamed("neighbor_id", "chunk_id"),
                        corpus.select("chunk_id", "chunk_text"),
                    ),
                    group_col="qid",
                ).collect()
            ctx.release()
        times.append((time.perf_counter() - t0) * 1e3)
        by_q = {row["qid"]: row["context"] for row in context}
        found = sum(
            1 for qid, src in enumerate(sources) if f"- {src}" in by_q.get(qid, "").split("\n\n")
        )
        hit += found
        if found != nq:
            log(f"rag_ingest: {nq - found} of {nq} questions missed their source chunk")
        return found == nq

    inc_ms, q_ms, cycle_ms, driver_s = [], [], [], []
    hit = 0
    op = 0

    def cycle(inc_times: list, q_times: list, cycle_times: list) -> None:
        """One increment and its questions; a cycle whose two timed
        parts both completed adds their sum to ``cycle_times``."""
        nonlocal op
        op += 1
        n_inc, n_q = len(inc_times), len(q_times)
        batch = new_batch(p["docs"], str(op))
        attempt(res, ingest_checked, coll, *batch, exp, inc_times)
        attempt(res, ask, op, q_times)
        if len(inc_times) > n_inc and len(q_times) > n_q:
            cycle_times.append(inc_times[-1] + q_times[-1])

    # warm-up (untimed, still checked): whole cycles
    warm = Deadline(WARMUP_S)
    while warm.open():
        cycle([], [], [])
    hit = 0
    deadline = Deadline(ctx.seconds)
    while deadline.open():
        cycle(inc_ms, q_ms, cycle_ms)
    docs = len(inc_ms) * p["docs"]

    res.op_ms = cycle_ms
    res.items = docs
    res.busy_s = (sum(inc_ms) + sum(q_ms)) / 1e3
    asked = len(q_ms) * p["questions"]
    res.detail = {
        **summarize(inc_ms, "increment"),
        **summarize(q_ms, "questions"),
        "ingest_docs_per_s": docs / (sum(inc_ms) / 1e3),
        "rag_questions_per_s": asked / (sum(q_ms) / 1e3),
        "stored_bytes_per_user_byte": inputs.dir_bytes(coll) / exp.user_bytes,
    }
    if ctx.traced:
        joins = tr.by_name("search.knn_join")
        embeds = tr.by_name("functions.embed")
        writes = tr.by_name("ingest.prepare_vectors") + tr.by_name("ingest.write_collection")
        vectors = sum(s["attrs"]["rows"] for s in tr.by_name("ingest.prepare_vectors"))
        res.layer = {
            "functions.embed_chunks_per_s": sum(s["attrs"]["rows"] for s in embeds)
            / sum(s["end"] - s["start"] for s in embeds),
            "ingest.vectors_per_s": vectors / sum(s["end"] - s["start"] for s in writes),
            "ingest.bytes_written_per_user_byte": inputs.dir_bytes(coll) / exp.user_bytes,
            "dedup.planted_recall": exp.found / exp.planted if exp.planted else 1.0,
            "search.pairs_scored_per_s": sum(s["attrs"]["queries"] * s["attrs"]["corpus"] for s in joins)
            / sum(s["end"] - s["start"] for s in joins),
            "search.knn_join.driver_s": sum(driver_s) / len(driver_s),
            "rag.context_hit_ratio": hit / asked if asked else 0.0,
        }
    return res
