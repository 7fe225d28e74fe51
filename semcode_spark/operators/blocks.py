"""The numpy twin of the engine's BM25 weight.

The persisted index stores each term's postings as parquet rows grouped
into blocks of ≤block_size postings; each row carries its block's
idf-independent BM25 weight bound ``max_w`` so queries can skip blocks
(block-max WAND). That bound is computed in the JVM
(index_build.bm25_weight); ``bm25_w`` is the same formula over numpy
arrays, for driver-side checks and tests. This replaces the reference's
outsourced index structure (Milvus IVF_FLAT nlist=128, reference:
storage/milvus_store.py:59-85) with an explicit data layout.
"""

from __future__ import annotations

import numpy as np


def bm25_w(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """Idf-free BM25 weight: tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)).

    Stored per-block as max_w so the block upper bound at query time is
    idf(t)*max_w — computable without joining term stats into the build
    (keeps the index build single-shuffle). float64 throughout, fixed
    evaluation order (SURVEY §7.3 hard part c).
    """
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
