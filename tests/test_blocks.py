"""The numpy twin of the BM25 weight (no Spark needed)."""

import numpy as np

from semcode_spark.operators import blocks as B


def test_bm25_w_monotone_in_tf():
    dl = np.full(5, 100.0)
    w = B.bm25_w(np.array([1, 2, 3, 5, 10]), dl, avgdl=100.0, k1=1.2, b=0.75)
    assert np.all(np.diff(w) > 0)
    assert np.all(w < 2.2)  # bounded by k1+1
