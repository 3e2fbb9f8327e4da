"""Seeded corpus generator for the benchmark.

Writes ``documents.parquet`` with the schema the engine reads
(``doc_id:int64, text:string``). The text follows the shape of the
project's synthetic test corpus: words drawn uniformly from a fixed
31-word pool (17 entity surfaces, 7 predicates, 7 fillers) until the
document reaches a length drawn uniformly from 44..577 characters.

``zipf > 0`` replaces the uniform choice among the entity surfaces with
a Zipf(``zipf``) law over a seed-shuffled ranking, keeping the share of
entity words unchanged: one concept then dominates the subjects, which
makes a hot subject bucket in the materialized edges.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITIES = [
    "table", "column", "row", "line", "key", "value", "query", "window",
    "vector", "stream", "batch", "customer", "group", "part", "data",
    "hash", "spark",
]
PREDICATES = ["scan", "sort", "merge", "join", "filter", "agg", "order"]
FILLERS = ["small", "slow", "a", "big", "fast", "the", "dup"]
POOL = ENTITIES + PREDICATES + FILLERS
MIN_CHARS, MAX_CHARS = 44, 577


def _word_probs(rng: np.random.Generator, zipf: float) -> np.ndarray:
    p = np.full(len(POOL), 1.0 / len(POOL))
    if zipf > 0:
        ranks = rng.permutation(len(ENTITIES)) + 1
        w = 1.0 / ranks.astype(float) ** zipf
        p[: len(ENTITIES)] = w / w.sum() * len(ENTITIES) / len(POOL)
    return p


def make_texts(n_docs: int, seed: int, zipf: float = 0.0) -> list[str]:
    """``n_docs`` document texts, a pure function of (n_docs, seed, zipf)."""
    rng = np.random.default_rng(seed)
    probs = _word_probs(rng, zipf)
    targets = rng.integers(MIN_CHARS, MAX_CHARS + 1, size=n_docs)
    # mean word length + separator is ~5.2 chars: draw enough words for
    # the longest document, then cut each row at its target length
    width = MAX_CHARS // 2 + 2
    draws = rng.choice(len(POOL), size=(n_docs, width), p=probs)
    lens = np.array([len(w) + 1 for w in POOL])[draws].cumsum(axis=1) - 1
    texts = []
    for row, cum, target in zip(draws, lens, targets):
        n = max(1, int(np.searchsorted(cum, target, side="left")) + 1)
        texts.append(" ".join(POOL[i] for i in row[:n]))
    return texts


def write_corpus(out_dir: str, n_docs: int, seed: int, zipf: float = 0.0) -> str:
    """Write ``out_dir/documents.parquet``; doc ids are
    ``0 .. n_docs - 1``. Returns the file path."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(make_texts(n_docs, seed, zipf), pa.string()),
        }
    )
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path
