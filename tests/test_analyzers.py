"""Analyzer variants: JVM array results == driver-side query twin."""

import pytest
from pyspark.sql import functions as F

from semcode_spark.functions.analyzers import analyze_query, analyzer


CASES = [
    "The running dogs jumped over boxes",
    "a an and stopwords only the",
    "indexing merges postings blocks",
    "",
]


@pytest.mark.parametrize("name", ["standard", "stop", "stem", "stop_stem"])
def test_spark_matches_driver_twin(spark, name):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES)],
                               "id long, text string")
    toks = analyzer(name)
    got = {r["id"]: r["t"] for r in
           df.select("id", toks("text").alias("t")).collect()}
    for i, text in enumerate(CASES):
        assert got[i] == analyze_query(name, text), (name, text)


def test_stopwords_removed(spark):
    out = analyze_query("stop", "the quick and the dead")
    assert out == ["quick", "dead"]


def test_stemming(spark):
    assert analyze_query("stem", "running jumped boxes") == ["runn", "jump", "box"]
    # stems shorter than 3 chars are kept whole
    assert analyze_query("stem", "is as") == ["is", "as"]


def test_unknown_analyzer_rejected():
    with pytest.raises(ValueError):
        analyzer("bogus")


def test_stop_stem_index_roundtrip(spark, documents, tmp_path):
    """A stop_stem-configured index round-trips: build + WAND query under
    the configured analyzer are rank-identical to the pure-Python oracle
    running the same analyzer (the reference's build/query shared-kernel
    contract, embeddings/providers.py:34-104)."""
    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.operators.index_build import build_index, read_index
    from semcode_spark.operators.query import bm25_topk, wand_topk
    from semcode_spark.oracle import BM25Oracle

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, analyzer="stop_stem"))
    out = str(tmp_path / "idx_stop_stem")
    build_index(spark, documents, out, cfg=cfg, groups=1)
    idx = read_index(spark, out)
    assert idx["analyzer"] == "stop_stem"

    corpus = {r["doc_id"]: r["text"]
              for r in documents.select("doc_id", "text").collect()}
    oracle = BM25Oracle(corpus, cfg)
    for query in ["the spark queries merged", "running windows filter",
                  "a batch of values"]:
        want = oracle.topk(query, k=10)
        got = wand_topk(spark, idx, query, k=10, cfg=cfg, prune="impact").collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want], query
        for g, (_, s) in zip(got, want):
            assert g["score"] == pytest.approx(s, abs=1e-9)
        # exhaustive path under the same cfg agrees too
        ex = bm25_topk(documents, query, k=10, cfg=cfg).collect()
        assert [r["doc_id"] for r in ex] == [d for d, _ in want], query


def test_analyzer_mismatch_rejected(spark, documents, tmp_path):
    """Adding a segment with a different analyzer than the index was
    built with must fail loudly (terms would miss the postings)."""
    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.operators.index_build import build_index
    from semcode_spark.operators.segments import add_segment

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, analyzer="stop"))
    out = str(tmp_path / "idx_stop")
    build_index(spark, documents.filter("doc_id < 100"), out,
                cfg=cfg, groups=1)
    other = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, analyzer="standard"))
    with pytest.raises(ValueError, match="analyzer mismatch"):
        add_segment(spark, out, documents.filter("doc_id >= 100"), cfg=other)
