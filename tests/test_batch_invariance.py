"""Block layout must be independent of Arrow batch boundaries: block
ids and bounds come from JVM windows over whole (term, salt) runs, so a
build under pathologically small Arrow batches writes the same rows as
the default (the determinism contract behind resume/rebuild identity).
"""

import pytest

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import build_index, read_index

CFG = EngineConfig(bm25=BM25Config(), index=IndexConfig(term_buckets=4, block_size=8))
KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _blocks(spark, documents, tmp_path, tag):
    out = str(tmp_path / tag)
    build_index(spark, documents.limit(120), out, cfg=CFG, groups=1, count_rows=False)
    return read_index(spark, out)["postings"].orderBy(
        "term", "salt", "block_id", "doc_id").collect()


def test_blocks_invariant_to_arrow_batch_size(spark, documents, tmp_path):
    default = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "7")  # force many tiny batches through the carry path
        tiny = _blocks(spark, documents, tmp_path, "tiny_batches")
    finally:
        spark.conf.set(KEY, default)
    normal = _blocks(spark, documents, tmp_path, "normal_batches")
    assert tiny == normal  # identical rows, blocks, bounds, and layout
    assert len(tiny) > 20
