"""Seeded generation of the benchmark's ``documents`` table.

The engine's synthesizers (``synth_pages``, ``q_corpus_pipeline``) read a
``documents.parquet`` with columns (doc_id, text, lang, source, n_chars).
The benchmark writes its own copy inside its output directory, derived
only from ``--seed``, with the same shape as the sf0.1 fixture: words drawn
from a 30-word vocabulary, 10–100 words per document, five languages with
English at ~41 %, 20 round-robin sources, and 5 % near-duplicates (another
document's text plus the token ``dup``), so the dedup stages have real
pairs to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
NEAR_DUP_FRACTION = 0.05


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """``n_docs`` documents as an Arrow table; a pure function of the seed."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = [
        " ".join(VOCAB[w] for w in words[e - n : e])
        for e, n in zip(ends.tolist(), n_words.tolist())
    ]
    dup = rng.random(n_docs) < NEAR_DUP_FRACTION
    origin = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(dup).tolist():
        if origin[i] != i:
            texts[i] = texts[origin[i]] + " dup"
    lang = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(data_dir: str, n_docs: int, seed: int) -> str:
    """Write ``{data_dir}/documents.parquet``; returns ``data_dir`` (the
    ``sf_dir`` argument the engine's synthesizers take)."""
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(
        documents_table(n_docs, seed), os.path.join(data_dir, "documents.parquet")
    )
    return data_dir
