"""Seeded LLM-corpus input generator: ``documents`` and ``embeddings``
in the shipped testdata's schema (FIXTURES.md B), scaled the way
``scripts/make_scaled_sf.py`` scales it.

A base corpus shaped like the shipped sf0.1 tables (a 31-word
vocabulary, 8-40 words per document, about 1% planted near-duplicates
and a few exact twins; 64-d clustered embeddings) is replicated
``replicas`` times. Replica ``r > 0`` shifts the ids and, as
make_scaled_sf does, injects a per-replica token every 4th word and
adds N(0, 0.35) noise to every embedding dimension, so the replicas are
not twins of their base and pair counts grow linearly, not
quadratically.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window index shard"
).split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
DIM = 64
N_CLUSTERS = 16


@dataclass(frozen=True)
class CorpusSpec:
    base_docs: int
    base_vecs: int
    replicas: int

    @property
    def n_docs(self) -> int:
        return self.base_docs * self.replicas


def _base_texts(rng: np.random.Generator, n: int) -> list[list[str]]:
    lengths = rng.integers(8, 41, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    docs, o = [], 0
    for ln in lengths:
        docs.append([VOCAB[w] for w in words[o:o + ln]])
        o += ln
    # plant near-duplicates: a copy of an earlier document with a few
    # word substitutions (trigram Jaccard spread over ~0.5-1.0), and a
    # handful of exact twins
    n_dup = max(1, n // 100)
    targets = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    for t in targets:
        src = docs[int(rng.integers(0, n // 2))]
        copy = list(src)
        for _ in range(int(rng.integers(0, max(1, len(copy) // 12) + 1))):
            copy[int(rng.integers(0, len(copy)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs[int(t)] = copy
    return docs


def documents(seed: int, spec: CorpusSpec) -> pa.Table:
    rng = np.random.default_rng([seed, 0xD0C])
    base = _base_texts(rng, spec.base_docs)
    texts: list[str] = []
    for r in range(spec.replicas):
        for doc_i, words in enumerate(base):
            w = list(words)
            if r > 0:
                for k in range(len(w) // 4, 0, -1):
                    w.insert(k * 4, f"q{r}p{(doc_i + k) % 97}")
            texts.append(" ".join(w))
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(seed: int, spec: CorpusSpec) -> pa.Table:
    rng = np.random.default_rng([seed, 0xE3B])
    centers = rng.normal(0.0, 1.0, size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, size=spec.base_vecs)
    base = centers[label] + rng.normal(0.0, 0.5, size=(spec.base_vecs, DIM))
    reps = [base]
    for r in range(1, spec.replicas):
        noise = np.random.default_rng([seed, 0xE3B, r]).normal(0.0, 0.35, size=base.shape)
        reps.append(base + noise)
    vecs = np.concatenate(reps).astype(np.float32)
    n = len(vecs)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), pa.array(vecs.ravel())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(np.tile(label, spec.replicas).astype(np.int32)),
        }
    )


def write(seed: int, spec: CorpusSpec, out: Path) -> dict[str, Path]:
    out.mkdir(parents=True, exist_ok=True)
    paths = {"documents": out / "documents.parquet", "embeddings": out / "embeddings.parquet"}
    pq.write_table(documents(seed, spec), paths["documents"])
    pq.write_table(embeddings(seed, spec), paths["embeddings"])
    return paths
