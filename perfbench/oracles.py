"""Scalable NumPy oracles for the benchmark's output checks.

The engine's own oracles (``pagerank_spark.oracle``) are exact but quadratic:
``pagerank_np`` builds a dense n x n matrix and ``triangle_count_np`` keeps a
set of every triangle. These re-derive the same answers in O(edges) memory
so they run at benchmark sizes:

  * ``pagerank_sparse``    power method with ``np.bincount`` as the SpMV,
                           including the regex filter, the in-link-ratio
                           filter and personalization (reference semantics)
  * ``components_uf``      union-find by min-id hooking + path compression
  * ``label_propagation_sync``  synchronous LPA, tie-break = smallest label
  * ``triangles_degree_ordered``  wedges closed along a degree ordering

Vertices are interned in sorted string order, so "smallest id" means
"smallest url" exactly as in the Spark operators.
"""

from __future__ import annotations

import math
import re

import numpy as np

EDGE_FILTER_REGEX = r".*((/$)|(/.*/)).*"
_edge_re = re.compile(EDGE_FILTER_REGEX)


def intern(src, dst):
    """(names: sorted unique urls, s: int64 ids, d: int64 ids)."""
    names, inv = np.unique(np.concatenate([np.asarray(src), np.asarray(dst)]), return_inverse=True)
    m = len(src)
    return names, inv[:m].astype(np.int64), inv[m:].astype(np.int64)


def regex_keep(src, dst) -> np.ndarray:
    """Boolean mask of edges surviving the reference's regex filter."""
    return np.array(
        [not (_edge_re.match(s) or _edge_re.match(t)) for s, t in zip(src, dst)], dtype=bool
    )


def weighted_edges(
    src, dst, filter_ratio: float | None = None, apply_regex_filter: bool = True
):
    """The engine's edge table as arrays: (names, s, d, w).

    Vertices are every endpoint that survives the regex filter (the ratio
    filter does not shrink the vertex set); ``w`` is 1/outdeg with outdeg
    counting duplicate rows after the ratio filter, and duplicate (s, d)
    pairs are summed into one entry.
    """
    src = np.asarray(src, dtype=object)
    dst = np.asarray(dst, dtype=object)
    if apply_regex_filter:
        keep = regex_keep(src, dst)
        src, dst = src[keep], dst[keep]
    names, s, d = intern(src, dst)
    n = len(names)
    if filter_ratio is not None:
        indeg = np.bincount(d, minlength=n)
        keep = indeg[d] < filter_ratio * n
        s, d = s[keep], d[keep]
    outdeg = np.bincount(s, minlength=n)
    key, k = np.unique(s * n + d, return_counts=True)
    s, d = key // n, key % n
    return names, s, d, k / outdeg[s]


def power_method(
    n: int,
    s: np.ndarray,
    d: np.ndarray,
    w: np.ndarray,
    v: np.ndarray | None = None,
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 1000,
):
    """Reference power method (L2-normalized iterates). Returns (x, iterations)."""
    dangling = np.bincount(s, minlength=n) == 0
    v = np.full(n, 1.0 / n) if v is None else np.asarray(v, dtype=np.float64)
    v = v / np.linalg.norm(v)
    x = np.full(n, 1.0 / math.sqrt(n))
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        q = (alpha * x[dangling].sum() + (1.0 - alpha)) * v
        new = alpha * np.bincount(d, weights=w * x[s], minlength=n) + q
        new /= np.linalg.norm(new)
        residual = float(np.linalg.norm(new - x))
        x = new
        if residual < epsilon:
            break
    return x, iterations


def pagerank_sparse(
    src,
    dst,
    alpha: float = 0.85,
    epsilon: float = 1e-6,
    max_iterations: int = 1000,
    filter_ratio: float | None = None,
    apply_regex_filter: bool = True,
    personalization_urls=None,
):
    """Edge list -> (dict url -> rank, iterations): ``pagerank_np`` semantics."""
    names, s, d, w = weighted_edges(src, dst, filter_ratio, apply_regex_filter)
    v = None
    if personalization_urls is not None:
        v = np.isin(names, np.asarray(sorted(personalization_urls), dtype=object)).astype(np.float64)
        if v.sum() <= 0:
            raise ValueError("personalization query matches no urls")
        v /= v.sum()
    x, iterations = power_method(len(names), s, d, w, v, alpha, epsilon, max_iterations)
    return dict(zip(names.tolist(), x.tolist())), iterations


def components_uf(n: int, s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Component id (= smallest member id) of each of the n vertices."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        pu, pv = parent[s], parent[d]
        lo, hi = np.minimum(pu, pv), np.maximum(pu, pv)
        moved = lo != hi
        if not moved.any():
            return parent
        np.minimum.at(parent, hi[moved], lo[moved])
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def undirected_simple(n: int, s: np.ndarray, d: np.ndarray):
    """Distinct undirected non-loop edges as (a, b) with a < b."""
    a, b = np.minimum(s, d), np.maximum(s, d)
    key = np.unique((a * n + b)[a != b])
    return key // n, key % n


def label_propagation_sync(n: int, s: np.ndarray, d: np.ndarray, max_iterations: int = 10):
    """Synchronous LPA over distinct undirected neighbours.

    Every vertex takes the most frequent neighbour label, ties to the
    smallest; vertices without neighbours keep their own. Stops when a round
    changes nothing. Returns (labels, rounds)."""
    a, b = undirected_simple(n, s, d)
    u = np.concatenate([a, b])
    nbr = np.concatenate([b, a])
    labels = np.arange(n, dtype=np.int64)
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        key, cnt = np.unique(u * n + labels[nbr], return_counts=True)
        ku, kl = key // n, key % n
        order = np.lexsort((kl, -cnt, ku))
        ku, kl = ku[order], kl[order]
        first = np.ones(len(ku), dtype=bool)
        first[1:] = ku[1:] != ku[:-1]
        new = labels.copy()
        new[ku[first]] = kl[first]
        changed = not np.array_equal(new, labels)
        labels = new
        if not changed:
            break
    return labels, rounds


def triangles_degree_ordered(n: int, s: np.ndarray, d: np.ndarray, chunk: int = 4_000_000) -> int:
    """Triangle count of the undirected simple graph.

    Each edge is oriented from the lower (degree, id) endpoint to the higher;
    a triangle is then exactly one wedge u->v, u->w (v before w) closed by
    the oriented edge v->w."""
    a, b = undirected_simple(n, s, d)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    ra, rb = rank[a], rank[b]
    lo, hi = np.minimum(ra, rb), np.maximum(ra, rb)
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    closing = lo * n + hi  # sorted
    m = len(lo)
    # wedges opened at edge p: (hi[p], hi[q]) for the later edges q of its row
    later = np.searchsorted(lo, lo, side="right") - np.arange(m) - 1
    cum = np.concatenate([[0], np.cumsum(later)])
    total = 0
    start = 0
    while start < m:
        stop = max(start + 1, int(np.searchsorted(cum, cum[start] + chunk, side="right")) - 1)
        cnt = later[start:stop]
        offsets = cum[start:stop] - cum[start]
        q = np.repeat(np.arange(start, stop) + 1 - offsets, cnt) + np.arange(cnt.sum())
        want = np.repeat(hi[start:stop], cnt) * n + hi[q]
        pos = np.minimum(np.searchsorted(closing, want), m - 1)
        total += int(np.count_nonzero(closing[pos] == want))
        start = stop
    return total
