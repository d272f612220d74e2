"""Seeded input tables for the benchmark.

Writes parquet files with the same column names, types and value shapes
as the project's TPC-H-style test data: ``part`` (the catalog's source),
and ``documents`` plus ``embeddings`` (the pipeline's inputs).  Each table
comes from its own ``numpy.random.default_rng`` stream, so one seed always
yields the same content.

The seed changes content, not shape: the near-duplicate structure of
``documents`` (which documents copy which) is the same for every seed, so
the dedup and clustering lanes do the same amount of work on each.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
LANGS = ["en", "es", "zh", "de", "fr"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10


def _rng(seed: int, table: str) -> np.random.Generator:
    # one stream per table: a table's content never depends on which other
    # tables were generated before it
    return np.random.default_rng([seed, sum(map(ord, table))])


def _write(out_dir: str, name: str, cols: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_part(out_dir: str, seed: int, n: int) -> None:
    r = _rng(seed, "part")
    key = np.arange(n, dtype=np.int64)
    adj = r.integers(0, len(ADJECTIVES), n)
    noun = r.integers(0, len(NOUNS), n)
    _write(out_dir, "part", {
        "p_partkey": key,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(0, 25, n)],
        "p_type": [PART_TYPES[t] for t in r.integers(0, len(PART_TYPES), n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (key % 1000) * 0.1, 1),
    })


def write_documents(out_dir: str, seed: int, n: int) -> None:
    """``n`` documents of 8-99 words.  The last 6% copy a document of the
    first half: a third of them exactly, the rest with one word replaced,
    so every duplicate cluster is one pair."""
    r = _rng(seed, "documents")
    texts = [" ".join(WORDS[i] for i in r.integers(0, len(WORDS), int(r.integers(8, 100))))
             for _ in range(n)]
    n_dup = max(3, n * 6 // 100)
    for k in range(n_dup):
        words = texts[k * (n // 2) // n_dup].split()
        if k % 3:
            words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
        texts[n - n_dup + k] = " ".join(words)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_embeddings(out_dir: str, seed: int, n: int) -> None:
    """``n`` unit vectors around 10 random centres, labelled by centre."""
    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    label = np.arange(n) % EMB_CLUSTERS
    vec = centers[label] + r.normal(0.0, 0.6, (n, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
