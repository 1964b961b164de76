"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(size, seed)``: the same seed
gives byte-identical files, another seed gives other data of the same
shape. The program under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from padua_spark.benchdata import make_maxquant_tables

# corpus_dedup layout
CORPUS_VOCAB = 4000
CORPUS_BLOCKS = 40
EMBED_DIM = 16
DUP_FRAC = 0.1  # planted near-duplicates (ground truth for recall)
NEAR_FRAC = 0.05  # near misses: candidates an exact join rejects


def write_lfq_inputs(out_dir: str, n_features: int, seed: int) -> dict:
    """MaxQuant Phospho(STY)Sites-shaped TSV plus design CSV — the
    fixture the repo's own macro rows use, seeded here."""
    os.makedirs(out_dir, exist_ok=True)
    table, design = make_maxquant_tables(n_features, seed=seed)
    sites = os.path.join(out_dir, "sites.txt")
    design_path = os.path.join(out_dir, "design.csv")
    table.to_csv(sites, sep="\t", index=False)
    design.to_csv(design_path, index=False)
    return {"sites": sites, "design": design_path, "rows": n_features}


def make_corpus(n_docs: int, seed: int):
    """Documents of 40-70 space-separated words with a known set of
    planted near-duplicates, plus one embedding per document.

    A planted duplicate copies an earlier document of the same block and
    replaces two of its words, so its word-3-shingle Jaccard with the
    source stays >= 0.7. A near miss replaces eight words instead
    (Jaccard about 0.3-0.5): LSH sometimes proposes such a pair and an
    exact join at 0.5 rejects it. Returns ``(docs, embeddings, planted)``
    where ``planted`` is a sorted list of ``(source_id, dup_id)``.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(CORPUS_VOCAB)])
    n_dups = int(n_docs * DUP_FRAC)
    n_copies = n_dups + int(n_docs * NEAR_FRAC)
    n_sources = n_docs - n_copies
    words: list[np.ndarray] = []
    blocks = rng.integers(0, CORPUS_BLOCKS, n_docs)
    planted = []
    for doc_id in range(n_docs):
        if doc_id < n_sources:
            length = int(rng.integers(40, 71))
            words.append(vocab[rng.integers(0, CORPUS_VOCAB, length)])
            continue
        dup = doc_id < n_sources + n_dups
        src = int(rng.integers(0, n_sources))
        copy = words[src].copy()
        for pos in rng.choice(copy.size, 2 if dup else 8, replace=False):
            copy[pos] = vocab[rng.integers(0, CORPUS_VOCAB)]
        words.append(copy)
        blocks[doc_id] = blocks[src]
        if dup:
            planted.append((src, doc_id))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "block": blocks.astype(np.int64),
            "text": [" ".join(w) for w in words],
        }
    )
    vecs = rng.normal(0.0, 1.0, (n_docs, EMBED_DIM))
    embeddings = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "vec": list(vecs),
        }
    )
    return docs, embeddings, sorted(planted)


def write_corpus_inputs(
    out_dir: str, n_docs: int, n_queries: int, seed: int
) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    docs, embeddings, planted = make_corpus(n_docs, seed)
    rng = np.random.default_rng(seed + 1)
    queries = pd.DataFrame(
        {
            "query_id": np.arange(n_queries, dtype=np.int64),
            "vec": list(rng.normal(0.0, 1.0, (n_queries, EMBED_DIM))),
        }
    )
    paths = {
        "docs": os.path.join(out_dir, "docs.parquet"),
        "embeddings": os.path.join(out_dir, "embeddings.parquet"),
        "queries": os.path.join(out_dir, "queries.parquet"),
    }
    docs.to_parquet(paths["docs"], index=False)
    embeddings.to_parquet(paths["embeddings"], index=False)
    queries.to_parquet(paths["queries"], index=False)
    return {**paths, "planted": planted, "rows": n_docs}
