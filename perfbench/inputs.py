"""Seeded inputs and the numpy references the answers are checked
against.  Everything here is plain numpy/pyarrow: the engine receives
only the files written by these functions."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose), so adding a draw in
    one place does not shift another input."""
    return np.random.default_rng([seed, *stream.encode()])


def unit_rows(X: np.ndarray) -> np.ndarray:
    """Rows scaled to unit norm in float64 (zero rows stay zero)."""
    X = np.asarray(X, dtype=np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0.0, 1e-12, n)


def vector_table(ids: np.ndarray, X: np.ndarray, id_name: str = "vec_id",
                 vec_name: str = "embedding") -> pa.Table:
    """``(id long, vec array<float>)`` table from an id array and a
    float matrix."""
    n, dim = X.shape
    flat = pa.array(np.ascontiguousarray(X, dtype=np.float32).reshape(-1))
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        id_name: pa.array(np.asarray(ids, dtype=np.int64)),
        vec_name: pa.ListArray.from_arrays(offsets, flat),
    })


def write_parquet(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files under directory
    ``path`` (so a scan gets at least that many splits); returns the
    bytes written.  Files appear atomically: a reader listing the
    directory never sees a partial file."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    return sum(
        write_file(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
    )


def write_file(table: pa.Table, path: str) -> int:
    """Write one parquet file so that it appears atomically (written
    under a hidden name, then renamed); returns its size."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp)
    size = os.path.getsize(tmp)
    os.rename(tmp, path)
    return size


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden and ``_`` files,
    such as checksums and commit markers, excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


#: scores closer than this are ties: float64 sums in another order
#: differ by far less, distinct vectors by far more
TIE_TOL = 1e-9


def topk_ref(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int,
             chunk: int = 16_384):
    """Exact cosine top-k (float64) of each query row over the corpus
    rows, ordered score desc then id asc, extended by every further row
    that ties the k-th score within :data:`TIE_TOL`.  Returns
    ``(ids, scores)`` lists, one entry per query."""
    Q = unit_rows(np.atleast_2d(q))
    S = np.concatenate(
        [Q @ unit_rows(corpus[lo:lo + chunk]).T for lo in range(0, len(corpus), chunk)],
        axis=1,
    )
    out_ids, out_scores = [], []
    for row in S:
        kk = min(k, row.size)
        kth = np.partition(row, row.size - kk)[row.size - kk]
        cand = np.nonzero(row >= kth - TIE_TOL)[0]
        order = np.lexsort((ids[cand], -row[cand]))
        out_ids.append(ids[cand][order].tolist())
        out_scores.append(row[cand][order].tolist())
    return out_ids, out_scores


def same_topk(got_ids, got_scores, ref_ids, ref_scores, k: int) -> bool:
    """True when a top-k answer matches the :func:`topk_ref` answer:
    the right length, scores equal within :data:`TIE_TOL` rank by rank,
    every returned id carrying its reference score, and every reference
    id present unless it ties the k-th score (rounding may pick among
    such ties)."""
    n = min(k, len(ref_ids))
    if len(got_ids) != n or len(set(got_ids)) != n:
        return False
    if n == 0:
        return True
    if any(abs(g - r) > TIE_TOL for g, r in zip(got_scores, ref_scores)):
        return False
    ref = dict(zip(ref_ids, ref_scores))
    if any(i not in ref or abs(ref[i] - s) > TIE_TOL for i, s in zip(got_ids, got_scores)):
        return False
    edge = ref_scores[n - 1]
    return {i for i, s in ref.items() if s > edge + TIE_TOL} <= set(got_ids)


# ---------------------------------------------------------------- text

#: synthetic vocabulary size; uniform draws keep unrelated documents
#: nearly disjoint, so near-duplicates and question sources stand out
VOCAB = 20_000


def vocabulary(seed: int) -> np.ndarray:
    """:data:`VOCAB` distinct lowercase words of 4 to 9 letters."""
    r = rng_for(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        lengths = r.integers(4, 10, VOCAB)
        chars = letters[r.integers(0, len(letters), (VOCAB, 9))]
        words.update("".join(row[:n]) for row, n in zip(chars, lengths))
    return np.array(sorted(words)[:VOCAB])


def make_documents(r: np.random.Generator, vocab: np.ndarray, first_id: int, n: int,
                   dup_share: float, words: tuple[int, int] = (250, 350),
                   edit_share: float = 0.01):
    """``n`` documents with ids from ``first_id``.  About ``dup_share``
    of them are near-duplicates of an earlier document of the same
    batch: a copy with ``edit_share`` of its words replaced.  Returns
    ``(ids, texts, planted)`` where ``planted`` maps duplicate id →
    source id."""
    n_dup = int(round(n * dup_share))
    n_orig = n - n_dup
    texts: list[str] = []
    tokens: list[np.ndarray] = []
    for _ in range(n_orig):
        toks = vocab[r.integers(0, len(vocab), int(r.integers(*words)))]
        tokens.append(toks)
    planted: dict[int, int] = {}
    # each duplicate lands after its source, at a random later slot
    order: list[tuple[str, int]] = [("orig", i) for i in range(n_orig)]
    for src in r.choice(n_orig, n_dup, replace=False):
        pos = int(r.integers(order.index(("orig", src)) + 1, len(order) + 1))
        order.insert(pos, ("dup", int(src)))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    src_id: dict[int, int] = {}
    for slot, (kind, i) in enumerate(order):
        if kind == "orig":
            toks = tokens[i]
            src_id[i] = int(ids[slot])
        else:
            toks = tokens[i].copy()
            edits = max(1, int(len(toks) * edit_share))
            toks[r.choice(len(toks), edits, replace=False)] = vocab[r.integers(0, len(vocab), edits)]
            planted[int(ids[slot])] = src_id[i]
        texts.append(" ".join(toks))
    return ids, texts, planted


def chunk_words(text: str, max_words: int) -> list[str]:
    """Reference chunking: consecutive ``max_words``-word windows."""
    toks = text.split()
    return [" ".join(toks[i:i + max_words]) for i in range(0, len(toks), max_words)]
