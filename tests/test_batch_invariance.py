"""Posting rows must be independent of the write's partitioning: block
ids and bounds come from JVM windows over whole (term, salt) runs, so a
grouped build under few shuffle partitions writes the same rows as a
single-group build at the default setting, and a compaction into
another group count reproduces them (the determinism contract behind
resume, rebuild and compaction identity of the one segment writer).
"""

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.segments import compact_segments

CFG = EngineConfig(bm25=BM25Config(), index=IndexConfig(term_buckets=4, block_size=8))
KEY = "spark.sql.shuffle.partitions"
COLS = ("term", "salt", "block_id", "max_w", "avgdl_enc", "doc_id", "tf")


def _rows(spark, out):
    return sorted(tuple(r) for r in
                  read_index(spark, out)["postings"].select(*COLS).collect())


def test_rows_invariant_to_groups_and_shuffle_partitions(spark, documents, tmp_path):
    docs = documents.filter("doc_id < 120")
    grouped, single = str(tmp_path / "groups3"), str(tmp_path / "groups1")
    default = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "3")
        build_index(spark, docs, grouped, cfg=CFG, groups=3)
    finally:
        spark.conf.set(KEY, default)
    build_index(spark, docs, single, cfg=CFG, groups=1)
    want = _rows(spark, single)
    assert _rows(spark, grouped) == want  # identical rows, blocks and bounds
    assert len(want) > 20 and any(r[1] for r in want)  # salted runs included

    compact_segments(spark, grouped, cfg=CFG, groups=2)
    assert read_index(spark, grouped)["_groups"] == [0, 1]
    assert _rows(spark, grouped) == want
