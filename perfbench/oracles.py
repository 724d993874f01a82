"""NumPy/pandas oracles for the benchmark's checks.

Each function takes an edge list as two int64 index arrays over vertices
``0..n-1`` (the caller maps vertex ids to indices in ascending id order, so
"smallest index" means "smallest id"). The semantics are the library's
documented ones; the implementations share nothing with it.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd


def pagerank(src: np.ndarray, dst: np.ndarray, n: int, alpha: float = 0.85,
             tol: float = 1e-6, max_rounds: int = 100) -> tuple[np.ndarray, int, bool]:
    """Power iteration with dangling mass spread evenly; stops after the
    first round whose L1 change is below ``n * tol``. Returns
    ``(ranks, rounds, converged)``."""
    out_deg = np.bincount(src, minlength=n)
    w = 1.0 / out_deg[src]
    dangling = out_deg == 0
    r = np.full(n, 1.0 / n)
    for rnd in range(1, max_rounds + 1):
        contrib = np.bincount(dst, weights=r[src] * w, minlength=n)
        new = (1.0 - alpha) / n + alpha * contrib + alpha * r[dangling].sum() / n
        delta = np.abs(new - r).sum()
        r = new
        if delta < n * tol:
            return r, rnd, True
    return r, max_rounds, False


def wcc(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Index of the smallest member of each vertex's weakly connected
    component: min-label propagation with pointer jumping."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, src, lab[dst])
        np.minimum.at(new, dst, lab[src])
        new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def cdlp(src: np.ndarray, dst: np.ndarray, n: int, labels: np.ndarray,
         max_rounds: int = 10) -> np.ndarray:
    """LDBC CDLP: synchronous rounds; each vertex takes the most frequent
    label over its neighbours, counted once per edge direction, ties to the
    smallest label; isolated vertices keep theirs; stop early on no change.
    ``labels`` are the initial (id-valued) labels."""
    keep = src != dst
    s = np.concatenate([src[keep], dst[keep]])
    d = np.concatenate([dst[keep], src[keep]])
    lab = labels.copy()
    for _ in range(max_rounds):
        counts = (pd.DataFrame({"v": d, "label": lab[s]})
                  .groupby(["v", "label"]).size().rename("cnt").reset_index())
        best = (counts.sort_values(["v", "cnt", "label"], ascending=[True, False, True])
                .drop_duplicates("v"))
        new = lab.copy()
        new[best["v"].to_numpy()] = best["label"].to_numpy()
        if np.array_equal(new, lab):
            break
        lab = new
    return lab


def triangles(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Per-vertex triangle count on the undirected simple graph."""
    keep = src != dst
    pairs = np.unique(np.stack([np.minimum(src[keep], dst[keep]),
                                np.maximum(src[keep], dst[keep])], axis=1), axis=0)
    deg = np.bincount(pairs.ravel(), minlength=n)
    out = defaultdict(set)
    for a, b in pairs.tolist():
        if (deg[a], a) < (deg[b], b):
            out[a].add(b)
        else:
            out[b].add(a)
    tri = np.zeros(n, dtype=np.int64)
    for u, nbrs in out.items():
        for v in nbrs:
            for w in nbrs & out.get(v, set()):
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
    return tri
