"""Seeded benchmark inputs and their oracle answers, cached on disk.

Each (workload, seed, size) gets one directory under the work dir holding
the input table the engine reads and the oracle answers the checks compare
against. ``MANIFEST.json`` is written last and records a sha256 of every
file, so a cache hit is verified byte for byte and both commits of a
comparison measure identical inputs. Generating is a one-time cost per seed
and is never inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
from multiprocessing import resource_tracker
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles

# Bump when the generators or the oracle answers change shape.
GENERATOR_VERSION = 10

SIZES = {
    # ~3.3 KB of HTML per page for the Python extractor; 5000 pages keep
    # the PageRank iteration counts steady from seed to seed
    "crawl_rank": dict(pages=5000, domains=8, mean_links=6.0, pad_bytes=2_500),
    # R-MAT (Graph500 quadrant probabilities), 2^scale vertex ids
    "rmat_analytics": dict(scale=13, edges=40_000),
}

ALPHA = 0.85
EPSILON = 1e-6
FILTER_RATIO = 0.2
PERSONALIZATION_QUERY = "covid"
SEARCH_QUERY = "court"
SEARCH_K = 10
LPA_ROUNDS = 2
PAD_BLOCKS = 32
INPUT_FILES = 8  # input tables are split like a crawl's part files


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _size_tag(workload: str) -> str:
    spec = json.dumps([GENERATOR_VERSION, SIZES[workload]], sort_keys=True)
    return hashlib.sha256(spec.encode()).hexdigest()[:10]


def _files(directory: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(root, f), directory)
        for root, _, files in os.walk(directory) for f in files if f != "MANIFEST.json"
    )


def _verified(directory: str) -> dict | None:
    path = os.path.join(directory, "MANIFEST.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        manifest = json.load(f)
    for name, digest in manifest["sha256"].items():
        p = os.path.join(directory, name)
        if not os.path.exists(p) or _sha256(p) != digest:
            return None
    return manifest


def prepare(work: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (directory, manifest) for this workload and seed, generating
    and checksumming the inputs on a cache miss."""
    directory = os.path.join(work, "inputs", f"{workload}-seed{seed}-{_size_tag(workload)}")
    manifest = _verified(directory)
    if manifest is not None:
        return directory, manifest
    tmp = directory + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(tmp)
    meta = _GENERATORS[workload](tmp, seed, **SIZES[workload])
    manifest = {
        "workload": workload,
        "seed": seed,
        "sizes": SIZES[workload],
        "generator_version": GENERATOR_VERSION,
        **meta,
        "sha256": {n: _sha256(os.path.join(tmp, n)) for n in _files(tmp)},
    }
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, directory)
    return directory, manifest


def _write(directory: str, name: str, columns: dict, parts: int = 1) -> None:
    """One parquet table; ``parts`` > 1 writes a directory of that many
    files, so Spark scans the table with parallel tasks."""
    table = pa.table(columns)
    if parts == 1:
        pq.write_table(table, os.path.join(directory, name))
        return
    os.makedirs(os.path.join(directory, name))
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(directory, name, f"part-{i:05d}.parquet"))


def _ranks_table(ranks: dict) -> dict:
    urls = sorted(ranks)
    return {"url": urls, "rank": np.array([ranks[u] for u in urls])}


# -- crawl_rank ---------------------------------------------------------------


def _padding(rng: np.random.Generator, target: int) -> bytes:
    """Markup-dense body text: nested inline tags and in-page anchors
    (``#`` hrefs, which the extractor drops), no outgoing links."""
    from pagerank_spark.fixtures import _WORDS

    parts, size = [], 0
    while size < target:
        w = [_WORDS[i] for i in rng.integers(0, len(_WORDS), size=24)]
        p = (
            f'<div class="c{int(rng.integers(0, 50))}"><p>{" ".join(w[:8])} <b>{w[8]}</b> '
            f'<span class="s">{" ".join(w[9:16])}</span> <a href="#s{int(rng.integers(0, 99))}">'
            f'{w[16]}</a> <i>{" ".join(w[17:])}</i></p></div>\n'
        )
        parts.append(p)
        size += len(p)
    return "".join(parts).encode()


def _hrefs(args):
    from pagerank_spark.functions.extract import extract_hrefs_py

    return [extract_hrefs_py(html, url) for html, url in args]


def _extract_all(html: list, urls: list, procs: int) -> list:
    """extract_hrefs_py over every page, in a small spawn pool."""
    chunks = [list(zip(html[i::procs], urls[i::procs])) for i in range(procs)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_hrefs, chunks)
    # the spawn pool started multiprocessing's resource tracker, which would
    # otherwise live as long as this process; stop it with the pool
    resource_tracker._resource_tracker._stop()
    out = [None] * len(html)
    for i, part in enumerate(parts):
        out[i::procs] = part
    return out


def _gen_crawl_rank(directory: str, seed: int, pages: int, domains: int, mean_links: float,
                    pad_bytes: int) -> dict:
    from pagerank_spark.fixtures import synth_pages
    from pagerank_spark.functions.url_query import url_satisfies_query_py

    rows = synth_pages(n_pages=pages, n_domains=domains, seed=seed, mean_links=mean_links)
    rng = np.random.default_rng([seed, 1])
    blocks = [_padding(rng, pad_bytes) for _ in range(PAD_BLOCKS)]
    pick = rng.integers(0, PAD_BLOCKS, size=len(rows))
    urls = [r["url"] for r in rows]
    html = [r["html"].replace(b"</body>", blocks[k] + b"</body>") for r, k in zip(rows, pick)]
    _write(directory, "pages", {
        "url": urls,
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "lang": [r["lang"] for r in rows],
    }, parts=INPUT_FILES)

    hrefs = _extract_all(html, urls, procs=min(4, os.cpu_count() or 1))
    src = [u for u, hs in zip(urls, hrefs) for _ in hs]
    dst = [h for hs in hrefs for h in hs]
    _write(directory, "raw_edges.parquet", {"src": src, "dst": dst})

    names, s, d, w = oracles.weighted_edges(src, dst, filter_ratio=FILTER_RATIO)
    _write(directory, "edges.parquet", {"src": names[s].tolist(), "dst": names[d].tolist(), "weight": w})
    ranks, iters = oracles.pagerank_sparse(src, dst, ALPHA, EPSILON, filter_ratio=FILTER_RATIO)
    _write(directory, "ranks.parquet", _ranks_table(ranks))
    matched = {u for u in names.tolist() if url_satisfies_query_py(u, PERSONALIZATION_QUERY)}
    pranks, piters = oracles.pagerank_sparse(
        src, dst, ALPHA, EPSILON, filter_ratio=FILTER_RATIO, personalization_urls=matched
    )
    _write(directory, "pranks.parquet", _ranks_table(pranks))
    return {
        "pages": len(rows),
        "html_bytes": int(sum(len(h) for h in html)),
        "raw_edges": len(src),
        "edges": int(len(s)),
        "vertices": int(len(names)),
        "iterations": iters,
        "personalized_iterations": piters,
        "personalization_matches": len(matched),
    }


# -- R-MAT workloads ----------------------------------------------------------


def rmat(seed: int, scale: int, edges: int):
    """R-MAT edge list (src, dst url strings) with the engine's Graph500
    quadrant probabilities, drawn level by level from a seeded generator."""
    from pagerank_spark.operators.gengraph import RMAT_A, RMAT_B, RMAT_C

    rng = np.random.default_rng([seed, 2])
    s = np.zeros(edges, dtype=np.int64)
    d = np.zeros(edges, dtype=np.int64)
    for level in range(scale):
        u = rng.random(edges)
        bit = 1 << (scale - 1 - level)
        s += np.where(u >= RMAT_A + RMAT_B, bit, 0)
        d += np.where(((u >= RMAT_A) & (u < RMAT_A + RMAT_B)) | (u >= RMAT_A + RMAT_B + RMAT_C), bit, 0)
    return np.char.add("v", s.astype(str)).astype(object), np.char.add("v", d.astype(str)).astype(object)


def _write_rmat(directory: str, seed: int, scale: int, edges: int):
    src, dst = rmat(seed, scale, edges)
    _write(directory, "raw_edges", {"src": src.tolist(), "dst": dst.tolist()}, parts=INPUT_FILES)
    return src, dst


def _gen_rmat_analytics(directory: str, seed: int, scale: int, edges: int) -> dict:
    src, dst = _write_rmat(directory, seed, scale, edges)
    names, s, d, w = oracles.weighted_edges(src, dst)
    x, iters = oracles.power_method(len(names), s, d, w, alpha=ALPHA, epsilon=EPSILON)
    _write(directory, "ranks.parquet", {"url": names.tolist(), "rank": x})
    # the regex filter keeps every R-MAT url, so the structure operators see
    # the raw edge list's vertices
    names, s, d = oracles.intern(src, dst)
    n = len(names)
    comp = oracles.components_uf(n, s, d)
    labels, rounds = oracles.label_propagation_sync(n, s, d, LPA_ROUNDS)
    _write(directory, "structure.parquet", {
        "url": names.tolist(), "component": names[comp].tolist(), "label": names[labels].tolist(),
    })
    return {
        "raw_edges": edges,
        "edges": int(len(w)),
        "vertices": n,
        "iterations": iters,
        "components": int(len(np.unique(comp))),
        "lpa_rounds": rounds,
        "triangles": oracles.triangles_degree_ordered(n, s, d),
    }


_GENERATORS = {
    "crawl_rank": _gen_crawl_rank,
    "rmat_analytics": _gen_rmat_analytics,
}
