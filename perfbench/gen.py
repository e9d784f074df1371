"""Seeded input generators. Everything here is numpy/pyarrow only: the
program under test never sees a generator, only the parquet files and
DataFrames made from them."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# VectorSource: cluster centres, latent rank, isotropic noise
CLUSTERS = 64
RANK = 12
NOISE = 0.05
# share of documents re-emitted as a planted near-duplicate
TWINS = 0.02
# label centroids of the sf0.1-shaped embeddings
LABELS = 10

# the sf0.1 corpus vocabulary: 30 words drawn uniformly, plus the rare
# "dup" marker its near-duplicate documents carry
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


class VectorSource:
    """Low-intrinsic-dimension vectors: cluster centre + rank-``RANK``
    latent + small isotropic noise. I.i.d. Gaussian data has no
    neighbourhood structure for IVF or PQ to exploit (PQ recall ~0.26),
    so it would measure nothing a real embedding table exhibits.

    The distribution (centres, latent basis) is fixed; the seed draws the
    sample. One source yields any number of disjoint draws from it (base
    rows, queries, insert deltas)."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([0, 1])
        self.centres = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
        self.basis = rng.normal(0.0, 0.35, (RANK, DIM))
        self.rng = np.random.default_rng([seed, 2])

    def draw(self, n: int) -> np.ndarray:
        rng = self.rng
        lab = rng.integers(0, len(self.centres), n)
        lat = rng.normal(0.0, 1.0, (n, len(self.basis)))
        x = self.centres[lab] + lat @ self.basis
        x += rng.normal(0.0, NOISE, x.shape)
        return x.astype(np.float32)


def vector_table(ids: np.ndarray, x: np.ndarray, id_col: str = "id",
                 vec_col: str = "v") -> pa.Table:
    flat = pa.array(np.ascontiguousarray(x).reshape(-1), pa.float32())
    vecs = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table({id_col: pa.array(ids, pa.int64()), vec_col: vecs})


def documents(seed: int, n: int):
    """An sf0.1-shaped corpus: uniform 10..100-word documents over the
    30-word vocabulary, five languages, ``n / 250`` sources. A ``TWINS``
    share of documents is re-emitted as a planted near-duplicate (one
    appended ``dup`` word) so MinHash-LSH has true pairs to find.

    Returns (table, planted pairs as sorted (doc_id, doc_id) tuples)."""
    rng = np.random.default_rng([seed, 3])
    n_twins = int(n * TWINS)
    n_base = n - n_twins
    lens = rng.integers(10, 101, n_base)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), m)]) for m in lens]
    src = rng.choice(n_base, n_twins, replace=False)
    texts += [texts[i] + " dup" for i in src]
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    pos = np.argsort(order)
    pairs = sorted(
        tuple(sorted((int(pos[a]), int(pos[n_base + j]))))
        for j, a in enumerate(src)
    )
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % max(1, n // 250)}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, pairs


def embeddings(seed: int, n: int, stream: int = 0) -> np.ndarray:
    """sf0.1-shaped embeddings: unit-norm 64-d vectors, near-isotropic
    with a weak per-label centroid (the testdata's spectrum is flat).
    The label centroids are fixed; the seed draws the sample, and each
    ``stream`` is a disjoint draw."""
    cent = np.random.default_rng([0, 4]).normal(0.0, 0.6, (LABELS, DIM))
    rng = np.random.default_rng([seed, 5, stream])
    x = rng.normal(0.0, 1.0, (n, DIM)) + cent[rng.integers(0, LABELS, n)]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def query_texts(seed: int, n: int) -> list[str]:
    """Two- to four-word queries over the corpus vocabulary's
    non-stopwords, so every query matches many documents."""
    rng = np.random.default_rng([seed, 6])
    words = [w for w in VOCAB if w not in ("a", "the")]
    return [
        " ".join(rng.choice(words, int(rng.integers(2, 5)), replace=False))
        for _ in range(n)
    ]


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
