"""Seeded generator for the benchmark's ``documents`` table.

The engine derives every input it reads (the token-sequence table, the
staged chunk files) from ``documents``, so this table is the benchmark's
whole input. The seed shifts the doc-id universe, which changes every
derived token array, shard count and event time, and it draws the text.
Single-threaded numpy + pyarrow: no Spark, so generation is never timed
as engine work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_SHARE = 0.05  # docs that repeat an earlier doc's text (+ " dup")
DID_STRIDE = 1_000_003  # doc-id universe shift per seed


def did_base(seed: int) -> int:
    """First doc id for ``seed``. Kept below 2^31 / 4 so the engine's
    int64 token arithmetic (did * 2654435761) cannot overflow."""
    return (seed % 500) * DID_STRIDE


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    dids = did_base(seed) + np.arange(n_docs, dtype=np.int64)
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(VOCAB[w] for w in words[cuts[i]:cuts[i + 1]])
             for i in range(n_docs)]
    dup = np.flatnonzero(rng.random(n_docs) < DUP_SHARE)
    for i in dup[dup > 0]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(dids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{s}" for s in
                            rng.integers(0, N_SOURCES, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(seed: int, n_docs: int, sf_dir: str) -> str:
    """Write ``{sf_dir}/documents.parquet``; returns ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs),
                   os.path.join(sf_dir, "documents.parquet"))
    return sf_dir
