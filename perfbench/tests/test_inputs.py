"""Seeded inputs and the top-k reference the answers are checked against."""

import numpy as np

from perfbench import inputs


def test_same_seed_same_inputs():
    a = inputs.rng_for(7, "x").standard_normal(5)
    b = inputs.rng_for(7, "x").standard_normal(5)
    c = inputs.rng_for(7, "y").standard_normal(5)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_topk_ref_orders_by_score_then_id():
    corpus = np.array([[1.0, 0.0], [0.0, 1.0], [2.0, 0.0], [1.0, 1.0]])
    ids = np.array([5, 6, 3, 4])
    got_ids, got_scores = inputs.topk_ref(corpus, ids, np.array([1.0, 0.0]), 3, chunk=2)
    # ids 3 and 5 tie at cosine 1: the smaller id first
    assert got_ids == [[3, 5, 4]]
    assert np.allclose(got_scores, [[1.0, 1.0, np.sqrt(0.5)]])
    # a tie at the k-th place extends the reference past k
    got_ids, _ = inputs.topk_ref(corpus, ids, np.array([1.0, 0.0]), 1)
    assert got_ids == [[3, 5]]


def test_same_topk():
    ref_ids, ref_scores = [1, 2, 3], [0.9, 0.8, 0.7]
    assert inputs.same_topk([1, 2, 3], [0.9, 0.8, 0.7], ref_ids, ref_scores, 3)
    assert not inputs.same_topk([1, 3, 2], [0.9, 0.8, 0.7], ref_ids, ref_scores, 3)
    assert not inputs.same_topk([1, 2], [0.9, 0.8], ref_ids, ref_scores, 3)
    assert not inputs.same_topk([1, 2, 9], [0.9, 0.8, 0.7], ref_ids, ref_scores, 3)
    assert not inputs.same_topk([1, 2, 2], [0.9, 0.8, 0.8], ref_ids, ref_scores, 3)
    # scores must match rank by rank
    assert not inputs.same_topk([1, 2, 3], [0.9, 0.8, 0.6], ref_ids, ref_scores, 3)
    # a tie at the k-th place may be broken either way
    tied_ids, tied_scores = [1, 2, 3, 9], [0.9, 0.8, 0.7, 0.7 - 1e-12]
    assert inputs.same_topk([1, 2, 9], [0.9, 0.8, 0.7], tied_ids, tied_scores, 3)
    assert inputs.same_topk([1, 2, 3], [0.9, 0.8, 0.7], tied_ids, tied_scores, 3)
    # a corpus smaller than k
    assert inputs.same_topk([1], [0.5], [1], [0.5], 3)
    assert inputs.same_topk([], [], [], [], 3)


def test_planted_duplicates():
    r = inputs.rng_for(1, "docs")
    vocab = inputs.vocabulary(1)
    ids, texts, planted = inputs.make_documents(r, vocab, 100, 20, 0.1)
    assert list(ids) == list(range(100, 120))
    assert len(planted) == 2
    pos = {int(i): t for i, t in zip(ids, texts)}
    for dup, src in planted.items():
        assert src < dup
        a, b = pos[dup].split(), pos[src].split()
        assert len(a) == len(b)
        assert 0 < sum(x != y for x, y in zip(a, b)) <= len(a) // 50
    assert inputs.chunk_words("a b c d e", 2) == ["a b", "c d", "e"]
