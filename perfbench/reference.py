"""Independent reference answers the benchmark checks the library against.

Written from the definitions (cosine similarity, character-shingle Jaccard,
connected components), not from the library's code, so a shared bug cannot
make both sides agree.
"""

from __future__ import annotations

import re

import numpy as np

# score tolerance of the exact-search check: float summation order differs
# between engines
TOL = 1e-9


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Cosine top-k of each query row over corpus rows, best first, ties by
    the lower row id. Returns ``(ids, scores)``, both ``(len(Q), k)``."""
    Xn = X.astype(np.float64)
    Xn /= np.linalg.norm(Xn, axis=1, keepdims=True)
    Qn = Q.astype(np.float64)
    Qn /= np.linalg.norm(Qn, axis=1, keepdims=True)
    S = Qn @ Xn.T
    ids = np.empty((len(Q), k), dtype=np.int64)
    for i, row in enumerate(S):
        order = np.lexsort((np.arange(len(row)), -row))[:k]
        ids[i] = order
    return ids, np.take_along_axis(S, ids, axis=1)


def recall_at_k(truth: np.ndarray, got: dict[int, list[int]]) -> float:
    """Share of true top-k ids returned, over all queries."""
    k = truth.shape[1]
    hits = sum(len(set(truth[q].tolist()) & set(got.get(q, []))) for q in range(len(truth)))
    return hits / (len(truth) * k)


def topk_matches(truth_ids: np.ndarray, truth_scores: np.ndarray,
                 got: dict[int, list[tuple[int, float]]]) -> bool:
    """Exact search check. ``truth_*`` hold the reference top-(k+1); ``got``
    maps each query to its ``k`` ``(id, score)`` rows best first. Every score
    must equal the reference score at the same rank within ``TOL``, and every
    id must be the reference id at that rank unless the reference has a tie
    within ``TOL`` there."""
    k = truth_ids.shape[1] - 1
    for q in range(len(truth_ids)):
        rows = got.get(q, [])
        if len(rows) != k:
            return False
        ts = truth_scores[q]
        for p, (vid, score) in enumerate(rows):
            if abs(score - ts[p]) > TOL:
                return False
            tied = any(abs(ts[j] - ts[p]) <= TOL for j in range(k + 1) if j != p)
            if vid != truth_ids[q, p] and not tied:
                return False
    return True


_NON_ALNUM = re.compile(r"[^a-z0-9\s]")
_SPACES = re.compile(r"\s+")


def shingles(text: str, k: int) -> set[str]:
    """Character k-grams of the lower-cased, punctuation-stripped,
    whitespace-collapsed text; a text shorter than k is its own shingle."""
    t = _SPACES.sub(" ", _NON_ALNUM.sub(" ", text.lower())).strip()
    if len(t) <= k:
        return {t}
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def components(n_ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: id -> smallest id of its connected component."""
    parent = {i: i for i in n_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}
