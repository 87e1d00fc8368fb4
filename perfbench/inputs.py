"""Seeded benchmark inputs.

Everything the engine reads in a run is generated here from the
workload seed, inside the run's work directory, so one seed always
gives byte-identical inputs and the benchmark reads nothing outside
its checkout:

- ``documents.parquet`` and ``embeddings.parquet`` in the shape of the
  repository's sf tables (the pages table is derived from documents by
  ``s2js_spark.spark.pages.PAGES_SQL``, exactly as every query does);
- polygon tile sets as GeoJSON dicts.

The seed moves the doc-id range (and with it every geotag), the page
texts, the embeddings and the polygon placement; sizes and shapes are
fixed so that two seeds cost the engine the same work.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 38-word vocabulary and language mix of the repository's sf tables.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "en", "zh", "es", "fr", "de", "en", "zh", "es", "fr", "de"]
EMB_DIM = 64
EMB_CLUSTERS = 10


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """``documents(doc_id, text, lang, source, n_chars)`` with ~1% exact
    and ~3% near-duplicate texts (material for the dedup queries)."""
    rng = np.random.default_rng([seed, 1])
    # A seeded, 20-aligned doc-id window keeps PAGES_SQL's doc_id % k
    # structure (re-crawls, cities, geotag-less pages) while moving
    # every geotag with the seed.
    first = int(rng.integers(0, 50_000)) * 20
    ids = np.arange(first, first + n_docs, dtype=np.int64)
    lens = rng.integers(8, 100, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    for i in range(n_docs):
        r = rng.random()
        src = int(rng.integers(0, max(1, i)))
        if i and r < 0.01:
            texts[i] = texts[src]
        elif i and r < 0.04:
            toks = texts[src].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_embeddings(path: str, n_vecs: int, seed: int) -> None:
    """``embeddings(vec_id, embedding, label)``: unit vectors around
    ten seeded cluster centres."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, size=n_vecs)
    vec = centres[label] + rng.normal(scale=0.12, size=(n_vecs, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    pq.write_table(table, path)


def write_sf_dir(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    write_documents(os.path.join(sf_dir, "documents.parquet"), n_docs, seed)
    write_embeddings(os.path.join(sf_dir, "embeddings.parquet"), n_vecs, seed)


def city(c: int) -> tuple[float, float]:
    """(lat, lng) of PAGES_SQL city ``c``: 70% of geotags sit within
    ~0.5 degrees of one of these 16 points."""
    return 7.0 * c - 55.0, 21.0 * c - 160.0


def _ring(lat: float, lng: float, radii: np.ndarray, phase: float) -> list:
    n = len(radii)
    ring = []
    for k in range(n):
        th = phase + 2.0 * math.pi * k / n
        ring.append([round(lng + radii[k] * math.cos(th), 6), round(lat + radii[k] * math.sin(th), 6)])
    ring.append(list(ring[0]))
    return ring


def polygon_tiles(seed: int, op: int, n_small: int, small_vertices: int,
                  n_big: int, big_vertices: int) -> list[tuple[str, dict]]:
    """A fresh seeded tile set: ``n_small`` star-shaped polygons of
    ``small_vertices`` vertices and ``n_big`` concave ``big_vertices``
    rings, each centred on a geotag city. City geotags spread
    uniformly over +-0.25 lat x +-0.5 lng degrees and the shapes only
    wobble, so every tile matches a similar number of pages whatever
    the seed. ``op`` varies
    the geometry between operations, so no tile set (and no generated
    code) repeats within a run."""
    rng = np.random.default_rng([seed, 3, op])
    tiles = []
    for i in range(n_small):
        lat, lng = city(int(rng.integers(0, 16)))
        lat += float(rng.uniform(-0.02, 0.02))
        lng += float(rng.uniform(-0.02, 0.02))
        radii = 0.2 + rng.uniform(-0.01, 0.01, size=small_vertices)
        tiles.append((f"poly{i}", {"type": "Polygon", "coordinates": [
            _ring(lat, lng, radii, float(rng.uniform(0, math.pi)))]}))
    for i in range(n_big):
        lat, lng = city(int(rng.integers(0, 16)))
        # a fixed lobe count keeps the covering, and so the work, alike
        th = 2.0 * math.pi * np.arange(big_vertices) / big_vertices
        radii = 0.9 + 0.35 * np.sin(8 * th)
        tiles.append((f"concave{i}", {"type": "Polygon", "coordinates": [
            _ring(lat, lng, radii, float(rng.uniform(0, math.pi)))]}))
    return tiles
