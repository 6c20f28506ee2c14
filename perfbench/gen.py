"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator``: the same
seed gives byte-identical inputs. The generators know nothing about the
library under test; they only write the files the workloads read.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cluster sizes of the mixture fall off as 1/rank^ZIPF_A
ZIPF_A = 1.1
# documents: words per document, vocabulary size, and the shares of
# documents that are one-word edits (NEAR_FRAC) or verbatim copies
# (EXACT_FRAC) of an earlier original
TOKENS = 60
VOCAB_SIZE = 4000
NEAR_FRAC = 0.2
EXACT_FRAC = 0.05


def gmm_corpus(rng: np.random.Generator, n: int, dim: int, n_clusters: int,
               spread: float = 3.0) -> np.ndarray:
    """Zipf-skewed Gaussian mixture: cluster sizes fall off as 1/rank^ZIPF_A,
    so a few hot clusters hold most rows (the shape real embedding corpora
    have)."""
    centers = rng.normal(size=(n_clusters, dim)) * spread
    w = 1.0 / np.arange(1, n_clusters + 1) ** ZIPF_A
    labels = rng.choice(n_clusters, size=n, p=w / w.sum())
    return (centers[labels] + rng.normal(size=(n, dim))).astype(np.float32)


def iid_corpus(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """Isotropic Gaussian vectors: no structure for an index to exploit."""
    return rng.normal(size=(n, dim)).astype(np.float32)


def _vector_table(ids: np.ndarray, X: np.ndarray, id_col: str,
                  vec_col: str) -> pa.Table:
    n, dim = X.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    vecs = pa.ListArray.from_arrays(offsets, pa.array(X.reshape(-1)))
    return pa.table({id_col: pa.array(ids.astype(np.int64)), vec_col: vecs})


def write_vectors(path: str, X: np.ndarray, n_files: int, id_col: str = "vec_id",
                  vec_col: str = "embedding", ids: np.ndarray | None = None) -> None:
    """Write ``(id, float32 array)`` rows as ``n_files`` parquet parts so a
    scan has one task per core. Ids default to the row numbers."""
    os.makedirs(path, exist_ok=True)
    ids = np.arange(len(X)) if ids is None else ids
    for i, part in enumerate(np.array_split(np.arange(len(X)), n_files)):
        pq.write_table(_vector_table(ids[part], X[part], id_col, vec_col),
                       os.path.join(path, f"part-{i:04d}.parquet"))


# ---------------------------------------------------------------------------
# documents with planted near-duplicates
# ---------------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, size=n)))
    return sorted(words)


@dataclass
class Documents:
    texts: list[str]            # index = doc_id
    planted: list[tuple[int, int]]  # (original id, copy id), original < copy
    exact: set[int]             # copy ids that are verbatim copies


def documents(rng: np.random.Generator, n_docs: int) -> Documents:
    """``n_docs`` documents of ``TOKENS`` random words. A ``NEAR_FRAC`` share
    are one-token edits of an earlier original, an ``EXACT_FRAC`` share are
    verbatim copies; originals are never themselves copies, so every planted
    pair is (original, copy) with the original first."""
    vocab = vocabulary(rng, VOCAB_SIZE)
    kinds = rng.random(n_docs)
    texts: list[str] = []
    originals: list[int] = []
    planted: list[tuple[int, int]] = []
    exact: set[int] = set()
    for d in range(n_docs):
        k = kinds[d]
        if originals and k < NEAR_FRAC + EXACT_FRAC:
            o = originals[int(rng.integers(len(originals)))]
            if k < EXACT_FRAC:
                texts.append(texts[o])
                exact.add(d)
            else:
                toks = texts[o].split(" ")
                pos = int(rng.integers(len(toks)))
                new = toks[pos]
                while new == toks[pos]:
                    new = vocab[int(rng.integers(len(vocab)))]
                toks[pos] = new
                texts.append(" ".join(toks))
            planted.append((o, d))
        else:
            words = rng.integers(len(vocab), size=TOKENS)
            texts.append(" ".join(vocab[w] for w in words))
            originals.append(d)
    return Documents(texts, planted, exact)


def write_doc_batches(in_dir: str, texts: list[str], n_batches: int) -> list[range]:
    """Split docs (in id order) into ``n_batches`` JSON-lines files, one file
    per arriving batch. Returns each batch's id range."""
    os.makedirs(in_dir, exist_ok=True)
    bounds = np.linspace(0, len(texts), n_batches + 1).astype(int)
    out = []
    for b in range(n_batches):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        with open(os.path.join(in_dir, f"batch-{b:02d}.json"), "w",
                  encoding="utf-8") as f:
            for d in range(lo, hi):
                f.write(json.dumps({"doc_id": d, "text": texts[d]}) + "\n")
        out.append(range(lo, hi))
    return out
