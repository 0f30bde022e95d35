"""Streaming vector-search serving: the coordinator's continuous
/search loop (reference coordinator/main.py:58-86, driven by
scripts/bench.py:16-35) as a Structured Streaming flow. Parity check:
micro-batched answers == the one-shot batch knn_join over the same
queries."""

from __future__ import annotations

import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import search
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.search import (
    knn_join,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import (
    serving as S,
)

pytestmark = pytest.mark.driver_gate


def _result_set(rows):
    return {(r.qid, r.neighbor_id, r.rank, round(r.score, 6)) for r in rows}


def test_stream_search_matches_batch(spark, tables):
    """Queries arriving across micro-batches get exactly the batch
    answers: per-qid top-k is independent per query, so the union of
    per-micro-batch results must equal one batch knn_join."""
    corpus = tables["embeddings"].select("vec_id", "embedding").persist()
    queries = (
        tables["embeddings"]
        .filter(F.col("vec_id") < 6)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )

    tmp = tempfile.mkdtemp(prefix="stream_search_")
    try:
        src, sink = tmp + "/src", tmp + "/sink"
        # two separate appends → two files → maxFilesPerTrigger=1 forces
        # (at least) two micro-batches
        queries.filter(F.col("qid") < 3).coalesce(1).write.mode("append").parquet(src)
        queries.filter(F.col("qid") >= 3).coalesce(1).write.mode("append").parquet(src)

        batch_ids: list[int] = []

        def sink_fn(hits, batch_id):
            batch_ids.append(batch_id)
            hits.write.mode("append").parquet(sink)

        q = S.stream_search(
            spark,
            src,
            corpus,
            sink_fn,
            k=5,
            reader_options={"maxFilesPerTrigger": 1},
        )
        q.processAllAvailable()
        q.stop()

        assert len(batch_ids) >= 2  # really served incrementally
        got = _result_set(spark.read.parquet(sink).collect())
        expect = _result_set(knn_join(queries, corpus, k=5).collect())
        assert got == expect
    finally:
        corpus.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_search_custom_search_fn(spark, tables):
    """ANN-backed serving: search_fn swaps the per-micro-batch
    retrieval — here a tiny exact closure tagging its own rank — and
    the sink sees exactly its output."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.search import (
        knn_join_expr,
    )

    corpus = tables["embeddings"].select("vec_id", "embedding")
    queries = (
        tables["embeddings"]
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    tmp = tempfile.mkdtemp(prefix="stream_search_fn_")
    try:
        src, sink = tmp + "/src", tmp + "/sink"
        queries.write.mode("overwrite").parquet(src)

        def ann(batch_df):
            return knn_join_expr(
                batch_df, corpus, k=4, query_vec="embedding"
            )

        def sink_fn(hits, batch_id):
            hits.write.mode("append").parquet(sink)

        q = S.stream_search(spark, src, corpus, sink_fn, search_fn=ann)
        q.processAllAvailable()
        q.stop()
        got = _result_set(spark.read.parquet(sink).collect())
        expect = _result_set(
            knn_join_expr(queries, corpus, k=4, query_vec="embedding").collect()
        )
        assert got == expect
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_search_to_parquet_smoke(spark, tables):
    corpus = tables["embeddings"].select("vec_id", "embedding")
    queries = (
        tables["embeddings"]
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    tmp = tempfile.mkdtemp(prefix="stream_search_pq_")
    try:
        src, sink = tmp + "/src", tmp + "/sink"
        queries.write.mode("overwrite").parquet(src)
        q = S.stream_search_to_parquet(spark, src, corpus, sink, k=3)
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(sink)
        assert out.count() == 2 * 3
        assert set(out.columns) == {"qid", "neighbor_id", "score", "rank"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_search_range_join_serving(spark, tables):
    """r13: continuous RADIUS serving through the existing search_fn
    seam — each micro-batch answered by range_join; the streamed union
    equals the one-shot batch result (per-pair predicate, no
    cross-batch interaction by construction)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.search import (
        range_join,
    )

    corpus = tables["embeddings"].select("vec_id", "embedding").persist()
    q = corpus.filter(F.col("vec_id") % 61 == 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    t = 0.25
    tmp = tempfile.mkdtemp(prefix="stream_range_")
    try:
        src = tmp + "/src"
        q.write.mode("append").parquet(src)
        got: list = []
        stream = S.stream_search(
            spark, src, corpus,
            lambda df, bid: got.extend(df.collect()),
            search_fn=lambda batch: range_join(
                batch, corpus, t, query_vec="embedding"
            ),
        )
        stream.processAllAvailable()
        stream.stop()
        want = {
            (r.qid, r.neighbor_id, round(r.score, 6))
            for r in range_join(q, corpus, t, query_vec="embedding").collect()
        }
        assert {(r.qid, r.neighbor_id, round(r.score, 6)) for r in got} == want
        assert want  # non-trivial
    finally:
        corpus.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# default path: the corpus held in the driver, answers equal knn_join's
# ---------------------------------------------------------------------------


def _serve(spark, src, corpus, files, **kwargs):
    """Run stream_search over query ``files`` (DataFrames appended to
    ``src`` one file each, served one file per micro-batch); returns
    the handed-over rows and each handed-over frame's dtypes."""
    for f in files:
        f.coalesce(1).write.mode("append").parquet(src)
    rows, dtypes = [], []

    def on_batch(hits, batch_id):
        dtypes.append(hits.dtypes)
        rows.extend(hits.collect())

    q = S.stream_search(
        spark, src, corpus, on_batch, reader_options={"maxFilesPerTrigger": 1}, **kwargs
    )
    q.processAllAvailable()
    q.stop()
    return rows, dtypes


def _never_held(*args, **kwargs):
    raise AssertionError("the corpus must not be pulled to the driver")


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_held_corpus_matches_knn_join(spark, tables, tmp_path, metric):
    corpus = tables["embeddings"].select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    files = [queries.filter(F.col("qid") < 200), queries.filter(F.col("qid") >= 200)]
    rows, dtypes = _serve(spark, str(tmp_path / "src"), corpus, files, k=6, metric=metric)
    want = knn_join(queries, corpus, k=6, metric=metric)
    assert len(dtypes) == 2 and all(d == want.dtypes for d in dtypes)
    assert _result_set(rows) == _result_set(want.collect())
    assert len(rows) == queries.count() * 6


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_held_corpus_ties_across_kth_place(spark, tmp_path, metric):
    """Many corpus rows share a score at the k-th place (one-hot rows,
    exact in float64): the lowest ids win, as in knn_join's window."""
    dim = 4
    corpus = spark.createDataFrame(
        [
            (i, [float(1 + i % 2) if j == i % 3 else 0.0 for j in range(dim)])
            for i in range(30)
        ],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [3.0, 1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0]), (2, [1.0, 1.0, 1.0, 0.0])],
        "qid long, embedding array<float>",
    )
    rows, _ = _serve(spark, str(tmp_path / "src"), corpus, [queries], k=4, metric=metric)
    want = {(r.qid, r.neighbor_id, r.rank, r.score) for r in
            knn_join(queries, corpus, k=4, metric=metric).collect()}
    assert {(r.qid, r.neighbor_id, r.rank, r.score) for r in rows} == want
    # query 1 is orthogonal to every corpus row: under cosine all 30
    # tie, under l2 the 15 unit-norm rows (even ids) tie
    first = [0, 1, 2, 3] if metric == "cosine" else [0, 2, 4, 6]
    assert sorted((r.rank, r.neighbor_id) for r in rows if r.qid == 1) == list(
        zip(range(1, 5), first)
    )


def test_held_corpus_string_ids(spark, tables, tmp_path):
    corpus = tables["embeddings"].select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("sid"), "embedding"
    )
    queries = corpus.filter(F.col("sid").isin("v3", "v40", "v41")).select(
        F.concat(F.lit("q"), F.col("sid")).alias("qid"), "embedding"
    )
    rows, dtypes = _serve(
        spark, str(tmp_path / "src"), corpus, [queries], k=3, id_col="sid",
        schema="qid string, embedding array<float>",
    )
    want = knn_join(queries, corpus, k=3, id_col="sid")
    assert dtypes == [want.dtypes]
    assert dtypes[0][:2] == [("qid", "string"), ("neighbor_id", "string")]
    assert _result_set(rows) == _result_set(want.collect())
    assert {(r.qid, r.neighbor_id) for r in rows if r.rank == 1} == {
        ("qv3", "v3"), ("qv40", "v40"), ("qv41", "v41")
    }


@pytest.mark.parametrize("over_bound", [False, True])
def test_empty_micro_batch_skips_on_batch(spark, tables, tmp_path, monkeypatch, over_bound):
    if over_bound:
        monkeypatch.setattr(search, "KNN_JOIN_MAX_BROADCAST_ROWS", 10)
    corpus = tables["embeddings"].select("vec_id", "embedding")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"qid": pa.array([], pa.int64()),
                  "embedding": pa.array([], pa.list_(pa.float32()))}),
        str(src / "empty.parquet"),
    )
    calls = []
    q = S.stream_search(spark, str(src), corpus, lambda hits, bid: calls.append(bid))
    try:
        q.processAllAvailable()
        ran = [p for p in q.recentProgress if p.numInputRows == 0 and "addBatch" in p.durationMs]
        assert ran  # the empty file really was a micro-batch
        assert calls == []
    finally:
        q.stop()


def test_over_bound_corpus_falls_back_to_knn_join(spark, tables, tmp_path, monkeypatch):
    monkeypatch.setattr(search, "KNN_JOIN_MAX_BROADCAST_ROWS", 100)
    monkeypatch.setattr(S, "_HeldCorpus", _never_held)
    corpus = tables["embeddings"].select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    rows, dtypes = _serve(spark, str(tmp_path / "src"), corpus, [queries], k=5)
    want = knn_join(queries, corpus, k=5)
    assert dtypes == [want.dtypes]
    assert _result_set(rows) == _result_set(want.collect()) and len(rows) == 4 * 5


def test_search_fn_takes_precedence(spark, tables, tmp_path, monkeypatch):
    """With a search_fn the corpus is never pulled to the driver and
    on_batch sees exactly the search_fn's frame."""
    monkeypatch.setattr(S, "_HeldCorpus", _never_held)
    corpus = tables["embeddings"].select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    rows, _ = _serve(
        spark, str(tmp_path / "src"), corpus, [queries],
        search_fn=lambda batch: knn_join(batch, corpus, k=2).withColumn("via", F.lit("fn")),
    )
    assert len(rows) == 3 * 2 and {r.via for r in rows} == {"fn"}
    assert _result_set(rows) == _result_set(knn_join(queries, corpus, k=2).collect())
