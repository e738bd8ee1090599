"""Seeded input generator and ground truth for the benchmark workloads.

Everything a workload needs is derived from one integer seed and written
as parquet files into a work directory before any set-up timing starts.
The engine receives only those files (or rows read from them); the
ground truth — exact top-10 neighbours, planted duplicate pairs with
their true Jaccard, the distinct-text count — stays in this process for
the correctness checks.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOP_K = 10
#: mixture shape shared by every vector workload
N_CENTERS = 64
NOISE = 0.6

#: tokenizer and shingle width of operators/text.py (re-implemented here so
#: dedup pairs are verified independently of the engine's kernels)
_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")
SHINGLE_N = 3


def _mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    pick = rng.integers(0, len(centers), n)
    noise = rng.normal(size=(n, centers.shape[1]))
    return (centers[pick] + NOISE * noise).astype(np.float32)


def mixture(rng: np.random.Generator, dim: int, *sizes: int) -> list[np.ndarray]:
    """One float32 (n, dim) draw per size, all from the same mixture of
    N_CENTERS Gaussian centres."""
    centers = rng.normal(size=(N_CENTERS, dim))
    return [_mixture(rng, centers, n) for n in sizes]


def _unit64(mat: np.ndarray) -> np.ndarray:
    m = mat.astype(np.float64)
    return m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)


def exact_topk(corpus_unit: np.ndarray, queries: np.ndarray, k: int = TOP_K):
    """Exact cosine top-k by NumPy brute force: (ids (Q,k), scores (Q,k)).

    Ties break by ascending row index, the engine's (score DESC, id ASC)
    order."""
    qn = _unit64(queries)
    scores = qn @ corpus_unit.T  # (Q, N)
    ids = np.empty((len(qn), k), dtype=np.int64)
    top = np.empty((len(qn), k))
    width = min(k + 8, scores.shape[1])
    for j, row in enumerate(scores):
        cand = np.argpartition(-row, width - 1)[:width]
        order = cand[np.lexsort((cand, -row[cand]))][:k]
        ids[j], top[j] = order, row[order]
    return ids, top


def vectors_table(ids: np.ndarray, mat: np.ndarray) -> pa.Table:
    """(vec_id, glyph_id, outer_context_id, embedding) — the columns the
    IVF writer and `schemas.assert_valid` expect."""
    n, dim = mat.shape
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "glyph_id": pa.array((ids % 144_000).astype(np.int64)),
            "outer_context_id": pa.array((ids % 10).astype(np.int32)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat.ravel()), dim
            ).cast(pa.list_(pa.float32())),
        }
    )


@dataclass
class VectorInputs:
    """A mixture corpus, held-out query batches and append batches."""

    corpus: np.ndarray  # (N, d) float32, ids 0..N-1
    query_batches: list[np.ndarray]  # each (Q, d)
    append_batches: list[np.ndarray] = field(default_factory=list)
    corpus_path: str = ""
    append_paths: list[str] = field(default_factory=list)
    #: exact top-k ids of every query batch against the set-up corpus
    truth_ids: list[np.ndarray] = field(default_factory=list)
    _unit_cache: dict = field(default_factory=dict)

    def rows_after(self, n_appends: int) -> np.ndarray:
        """Corpus plus the first `n_appends` append batches, in id order."""
        return np.concatenate([self.corpus, *self.append_batches[:n_appends]])

    def unit_after(self, n_appends: int) -> np.ndarray:
        if n_appends not in self._unit_cache:
            self._unit_cache = {n_appends: _unit64(self.rows_after(n_appends))}
        return self._unit_cache[n_appends]

    def truth_after(self, batch: int, n_appends: int) -> np.ndarray:
        """Exact top-k ids for query batch `batch` once `n_appends` batches
        were appended (append ids continue after the corpus ids)."""
        if n_appends == 0:
            return self.truth_ids[batch]
        return exact_topk(self.unit_after(n_appends), self.query_batches[batch])[0]


def make_vectors(
    rng: np.random.Generator,
    workdir: str,
    n: int,
    dim: int,
    n_batches: int,
    batch_size: int,
    n_appends: int,
    append_size: int,
) -> VectorInputs:
    corpus, *rest = mixture(rng, dim, n, *[batch_size] * n_batches, *[append_size] * n_appends)
    batches, appends = rest[:n_batches], rest[n_batches:]
    inp = VectorInputs(corpus=corpus, query_batches=batches, append_batches=appends)
    inp.corpus_path = os.path.join(workdir, "corpus.parquet")
    pq.write_table(vectors_table(np.arange(n), corpus), inp.corpus_path)
    start = n
    for j, mat in enumerate(appends):
        path = os.path.join(workdir, f"append-{j:04d}.parquet")
        pq.write_table(vectors_table(np.arange(start, start + len(mat)), mat), path)
        inp.append_paths.append(path)
        start += len(mat)
    unit = _unit64(corpus)
    inp.truth_ids = [exact_topk(unit, q)[0] for q in batches]
    return inp


def facade_table(mat: np.ndarray) -> pa.Table:
    """IGlyph rows for `VectorField.add_iglyphs_batch` (ids g0, g1, ...)."""
    n, dim = mat.shape
    idx = np.arange(n)
    return pa.table(
        {
            "iglyph_id": pa.array([f"g{i}" for i in idx]),
            "glyph_id": pa.array((idx % 144_000).astype(np.int64)),
            "outer_context_id": pa.array((idx % 10).astype(np.int32)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(mat.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array([f"row{i}" for i in idx]),
        }
    )


# ----------------------------------------------------------------------
# documents
# ----------------------------------------------------------------------


def tokens(text: str) -> list[str]:
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def shingles(text: str) -> set[str]:
    toks = tokens(text)
    return {" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


@dataclass
class DocInputs:
    texts: list[str]
    path: str
    distinct_texts: int
    #: (a_id, b_id) -> true shingle Jaccard, a_id < b_id
    planted: dict[tuple[int, int], float]
    threshold: float

    def planted_above(self) -> set[tuple[int, int]]:
        return {p for p, j in self.planted.items() if j >= self.threshold}


#: document shape: tokens per document, Zipf vocabulary, shares of
#: near-duplicates (EDITS token substitutions of an earlier document) and
#: of exact copies
DOC_LEN, VOCAB = 40, 5000
NEAR_DUP_SHARE, EXACT_DUP_SHARE, EDITS = 0.1, 0.05, 2


def make_docs(
    rng: np.random.Generator, path: str, n_docs: int, threshold: float = 0.5
) -> DocInputs:
    """Zipf-token documents; a known share are near-duplicates or exact
    copies of an earlier document."""
    words = np.array([f"w{i}" for i in range(VOCAB)])
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    p /= p.sum()
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_base = n_docs - n_near - n_exact
    toks = [list(words[rng.choice(VOCAB, size=DOC_LEN, p=p)]) for _ in range(n_base)]
    planted: dict[tuple[int, int], float] = {}
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        copy = list(toks[src])
        for pos in rng.choice(DOC_LEN, size=EDITS, replace=False):
            copy[pos] = str(words[rng.integers(0, VOCAB)])
        planted[(src, len(toks))] = -1.0
        toks.append(copy)
    for _ in range(n_exact):
        toks.append(list(toks[int(rng.integers(0, n_base))]))
    texts = [" ".join(t) for t in toks]
    for a, b in planted:
        planted[(a, b)] = jaccard(shingles(texts[a]), shingles(texts[b]))
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts}),
        path,
    )
    return DocInputs(texts, path, len(set(texts)), planted, threshold)
