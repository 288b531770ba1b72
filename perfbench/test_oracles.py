"""The benchmark's scalable oracles agree with the engine's exact ones.

Run from the repository root:  python -m pytest perfbench/test_oracles.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracles  # noqa: E402
from pagerank_spark.fixtures import GOLDEN_SMALL_EDGES, GOLDEN_SMALL_RANKS, synth_edges  # noqa: E402
from pagerank_spark.oracle import (  # noqa: E402
    connected_components_np,
    label_propagation_np,
    pagerank_np,
    triangle_count_np,
)


def _split(edges):
    return [s for s, _ in edges], [t for _, t in edges]


def test_pagerank_golden_small():
    ranks, iters = oracles.pagerank_sparse(*_split(GOLDEN_SMALL_EDGES), apply_regex_filter=False)
    ref, ref_iters, _ = pagerank_np(GOLDEN_SMALL_EDGES, apply_regex_filter=False)
    assert iters == ref_iters == 24  # README logs i=0..23
    for url, value in GOLDEN_SMALL_RANKS.items():
        assert abs(ranks[url] - value) < 5e-5
        assert abs(ranks[url] - ref[url]) < 1e-12


@pytest.mark.parametrize(
    "kw",
    [
        dict(),
        dict(filter_ratio=0.2),
        dict(filter_ratio=0.05),
        dict(apply_regex_filter=False),
        dict(personalization="covid"),
        dict(personalization="news", filter_ratio=0.2),
    ],
)
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pagerank_matches_dense_oracle(seed, kw):
    edges = synth_edges(n_vertices=150, n_edges=700, seed=seed, url_style=True)
    kw = dict(kw)
    query = kw.pop("personalization", None)
    if query is not None:
        kw["personalization_urls"] = {u for e in edges for u in e if query in u}
    ranks, iters = oracles.pagerank_sparse(*_split(edges), **kw)
    ref, ref_iters, _ = pagerank_np(edges, **kw)
    assert iters == ref_iters
    assert ranks.keys() == ref.keys()
    assert max(abs(ranks[u] - ref[u]) for u in ref) < 1e-12


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_graph_oracles_match(seed):
    edges = synth_edges(n_vertices=120, n_edges=500, seed=seed)
    names, s, d = oracles.intern(*_split(edges))
    n = len(names)

    comp = oracles.components_uf(n, s, d)
    assert {names[i]: names[c] for i, c in enumerate(comp)} == connected_components_np(edges)

    labels, _ = oracles.label_propagation_sync(n, s, d)
    assert {names[i]: names[c] for i, c in enumerate(labels)} == label_propagation_np(edges)

    total, _ = triangle_count_np(edges)
    assert oracles.triangles_degree_ordered(n, s, d) == total
    # a tiny chunk forces many wedge batches through the same count
    assert oracles.triangles_degree_ordered(n, s, d, chunk=7) == total


def test_triangles_dense_graph():
    edges = [(f"v{i}", f"v{j}") for i in range(12) for j in range(12) if i != j]
    names, s, d = oracles.intern(*_split(edges))
    assert oracles.triangles_degree_ordered(len(names), s, d) == 220  # C(12, 3)


def test_components_disconnected_and_isolated():
    edges = [("b", "a"), ("c", "c"), ("e", "d"), ("d", "f")]
    names, s, d = oracles.intern(*_split(edges))
    comp = oracles.components_uf(len(names), s, d)
    assert [names[c] for c in comp] == ["a", "a", "c", "d", "d", "d"]
    assert np.array_equal(comp, oracles.components_uf(len(names), d, s))
