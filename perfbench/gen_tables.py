"""Fixed corpus tables for the ``curation`` workload.

``documents`` and ``embeddings`` are shaped like the synthetic test tables
that ``TESTDATA.md`` describes: the same columns and types, a 31-word
vocabulary, and unit-norm 64-dimensional float32 vectors in 10 labelled
clusters, at about a fifth of the 0.1 scale factor.  They are built from
``TABLE_SEED``, not from the run's seed: the curation keys run on one
fixed corpus, so their timings compare run to run like the fixed test
tables did.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
N_DOCS = 1000
N_VECS = 500
DIM = 64
N_LABELS = 10

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "en", "zh", "es", "de", "fr", "es", "de")


def _documents(rng: random.Random) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: a few words swapped
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            words.insert(rng.randrange(len(words) + 1), "dup")
        else:
            words = rng.choices(_VOCAB, k=rng.randint(8, 100))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(_LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int) -> pa.Table:
    gen = np.random.default_rng(seed)
    centroids = gen.normal(size=(N_LABELS, DIM))
    labels = gen.integers(0, N_LABELS, size=N_VECS)
    vecs = centroids[labels] * 0.6 + gen.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate_tables(out_dir: str) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one row group
    each) into ``out_dir``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    docs = _documents(random.Random(TABLE_SEED))
    emb = _embeddings(TABLE_SEED)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": docs.num_rows, "embeddings": emb.num_rows}
