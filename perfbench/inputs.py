"""Seeded benchmark inputs, made outside every timed region and cached.

Two inputs are a pure function of ``--seed``:

- the span-document corpus (:func:`corpus_docs`),
- the stream input files, the same kind of corpus split into small files
  (:func:`write_stream_files`).

The registry queries read the repository's own sf0.01 test tables, copied
byte for byte into ``perfbench/data/sf0.01`` (:data:`QUERY_TABLES`) so the
benchmark reads nothing outside its checkout.

**Why the corpus is stratified.** ``corpus.write_corpus_parquet(path, n,
seed)`` draws each document's page count from a heavy-tailed mix (85 % of
documents have 1-3 pages, 0.2 % have 600-1000). At the few hundred
documents a 10-second run can extract, the total page count then moves by
20-60 % between seeds (measured IQR/median over ten seeds), and the
benchmark would measure the seed rather than the engine. So the corpus
keeps ``generate_corpus``'s documents exactly — document ``i`` of seed
``s`` is generated from ``default_rng([s, i])`` and named ``doc-{i:08d}``,
as ``generate_corpus`` does — but picks *which* indices to keep so that
every (route, page-count bin) stratum holds the count the generator's own
probabilities give it. Documents are shared out over the page classes
first and then over the two routes, each by largest remainder, so the
600-1000-page tail keeps the one document its 0.2 % share rounds to at
300 documents. The seed decides the content of every page and which
documents fill each stratum; it no longer decides how many pages the
corpus has. The pinned edge-case documents are always included.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from pdf_to_xls_vision_spark import corpus

#: the sf0.01 test tables the registry queries of query_mix read
QUERY_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: page-count classes of ``corpus._sample_page_count``:
#: (probability, lowest, highest page count), uniform within a class
_PAGE_CLASSES = (
    (0.85, 1, 3),
    (0.13, 4, 30),
    (0.018, 31, 200),
    (0.002, 600, 1000),
)
#: sub-bins per class: a class's quota is spread evenly over its bins so
#: the page counts inside a class cover its range the same way every seed
_SUB_BINS = (3, 9, 10, 10)
#: share of documents the generator routes to vision (all-image or an
#: image among the first three pages, ``kind_roll < 0.40``)
_VISION_SHARE = 0.40


def _sub_bins(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    edges = np.linspace(lo, hi + 1, n + 1).round().astype(int)
    return [(int(a), int(b) - 1) for a, b in zip(edges[:-1], edges[1:])]


def _largest_remainder(shares: list[float], total: int) -> list[int]:
    raw = [s * total for s in shares]
    counts = [int(r) for r in raw]
    order = sorted(
        range(len(raw)), key=lambda k: (counts[k] - raw[k], k)
    )
    for k in order[: total - sum(counts)]:
        counts[k] += 1
    return counts


def stratum_quotas(n_docs: int) -> dict[tuple[str, int, int], int]:
    """Documents per (route, lowest page count, highest page count)."""
    routes = ("vision", "text")
    class_quotas = _largest_remainder([c[0] for c in _PAGE_CLASSES], n_docs)
    quotas: dict[tuple[str, int, int], int] = {}
    for (_, lo, hi), n_bins, q_class in zip(_PAGE_CLASSES, _SUB_BINS, class_quotas):
        bins = _sub_bins(lo, hi, n_bins)
        route_quotas = _largest_remainder([_VISION_SHARE, 1 - _VISION_SHARE], q_class)
        for route, q in zip(routes, route_quotas):
            for k in range(q):
                key = (route, *bins[int((k + 0.5) * n_bins / q)])
                quotas[key] = quotas.get(key, 0) + 1
    return quotas


def _peek_shape(seed: int, i: int) -> tuple[str, int]:
    """(route, page count) of generator document ``i`` — the first two
    draws of ``corpus._random_doc``, without generating its pages."""
    rng = np.random.default_rng([seed, i])
    n_pages = corpus._sample_page_count(rng)
    return ("vision" if rng.random() < _VISION_SHARE else "text"), n_pages


def route_of(spans: list[dict]) -> str:
    kinds = [s["kind"] for s in spans]
    return "vision" if "image" in kinds[:3] else "text"


def corpus_docs(seed: int, n_docs: int) -> list[tuple[str, list[dict]]]:
    """Pinned documents plus ``n_docs`` stratified generator documents."""
    quotas = stratum_quotas(n_docs)
    bins_of = {}
    for route, lo, hi in quotas:
        for n in range(lo, hi + 1):
            bins_of[(route, n)] = (route, lo, hi)
    left = dict(quotas)
    chosen: list[int] = []
    i = 0
    while len(chosen) < n_docs:
        key = bins_of.get(_peek_shape(seed, i))
        if key is not None and left[key] > 0:
            left[key] -= 1
            chosen.append(i)
        i += 1
    docs = corpus._pinned_docs()
    for i in chosen:
        doc_id = f"doc-{i:08d}"
        spans = corpus._random_doc(doc_id, np.random.default_rng([seed, i]))
        route, n_pages = _peek_shape(seed, i)
        if (len(spans), route_of(spans)) != (n_pages, route):
            raise RuntimeError(
                f"corpus generator drifted from the stratifier at {doc_id}: "
                f"generated {len(spans)} pages, {route_of(spans)} route, "
                f"peeked {n_pages}, {route}"
            )
        docs.append((doc_id, spans))
    return docs


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def write_corpus(path: str, docs: list[tuple[str, list[dict]]]) -> str:
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    pq.write_table(corpus.corpus_to_arrow(docs), tmp, compression="zstd")
    os.replace(tmp, path)
    return path


def read_corpus(path: str) -> list[tuple[str, list[dict]]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    return list(zip(t["doc_id"], t["spans"]))


def write_stream_files(
    in_dir: str, docs: list[tuple[str, list[dict]]], n_files: int, seed: int
) -> list[str]:
    """Split ``docs`` over ``n_files`` parquet files: a seeded shuffle,
    then equal-sized consecutive slices, so every micro-batch of a
    one-file-per-trigger stream carries the same number of documents.

    Files are written in name order with strictly increasing mtimes, so
    the file source's pickup order is the name order."""
    order = np.random.default_rng([seed, 7]).permutation(len(docs))
    os.makedirs(in_dir, exist_ok=True)
    paths = []
    for k, part in enumerate(np.array_split(order, n_files)):
        path = os.path.join(in_dir, f"part-{k:04d}.parquet")
        write_corpus(path, [docs[j] for j in part])
        os.utime(path, ns=(10**18 + k * 10**9, 10**18 + k * 10**9))
        paths.append(path)
    return paths
