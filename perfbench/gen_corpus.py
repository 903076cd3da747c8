#!/usr/bin/env python3
"""Seeded generator for the engine's text and vector corpus.

Writes documents.parquet and embeddings.parquet with the column names, types
and value shapes the engine's queries read (FIXTURES.md, section 1): 500
documents of 10-100 words from a 31-word vocabulary over 20 sources, with a
few exact duplicates, and 500 unit vectors of 64 floats around ten labelled
centres. The same seed gives identical tables.

Usage: python3 perfbench/gen_corpus.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
N_VECS = 500
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    texts = []
    for _ in range(N_DOCS):
        words = rng.choice(WORDS, int(rng.integers(10, 101)))
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    # A few exact duplicates, as a scraped corpus has.
    for _ in range(2):
        a, b = rng.integers(0, N_DOCS, 2)
        texts[b] = texts[a]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # Embeddings: unit vectors around ten cluster centres.
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centres[labels] * 0.5 + rng.normal(size=(N_VECS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
