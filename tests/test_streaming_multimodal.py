"""Streaming micro-batch paths + multimodal Arrow plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from semcode_spark.operators import multimodal as M
from semcode_spark.operators.index_build import term_doc_tf
from semcode_spark.streaming.incremental import (
    incremental_index, streaming_event_stats, windowed_event_stats,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_streaming_equals_batch(spark, tmp_path):
    got = streaming_event_stats(
        spark, os.path.join(SF_DIR, "events.parquet"), str(tmp_path / "ckpt"))
    want = windowed_event_stats(
        spark.read.parquet(os.path.join(SF_DIR, "events.parquet")))
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b and len(a) > 0


def test_incremental_index_exactly_once_and_rank_identical(spark, tmp_path, documents):
    """availableNow stream builds the index segment-per-micro-batch;
    a rerun adds nothing (checkpoint); queries match a batch build."""
    from semcode_spark.operators.index_build import build_index, read_index
    from semcode_spark.operators.query import bm25_topk_batch

    src = str(tmp_path / "docs_src")
    documents.repartition(6).write.parquet(src)  # several files → several batches
    out = str(tmp_path / "inc_index")
    incremental_index(spark, src, out, max_files_per_trigger=2)
    man = spark.read.parquet(os.path.join(out, "manifest"))
    n_seg = man.filter("stage = 'segment'").count()
    assert n_seg >= 2  # really was incremental
    incremental_index(spark, src, out, max_files_per_trigger=2)  # no new files
    assert spark.read.parquet(os.path.join(out, "manifest")).count() == man.count()

    full = str(tmp_path / "full_index")
    build_index(spark, documents, full, groups=1)
    queries = [(0, "spark query data", 10), (1, "dup", 10)]
    a = sorted(map(tuple, bm25_topk_batch(spark, read_index(spark, out), queries).collect()))
    b = sorted(map(tuple, bm25_topk_batch(spark, read_index(spark, full), queries).collect()))
    assert [x[:3] for x in a] == [x[:3] for x in b]


def test_media_meta_roundtrip(spark):
    media = M.synth_media(spark, 100)
    meta = M.decode_media_meta(media)
    bad = meta.join(media, "media_id").filter(
        (F.col("dec_width") != F.col("width"))
        | (F.col("dec_height") != F.col("height"))).count()
    assert bad == 0
    assert meta.count() == 100


def test_media_features_shape(spark):
    media = M.synth_media(spark, 50)
    rows = M.extract_features(media).collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["features"]) == M.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # normalized histogram


def test_decode_image_is_explicit_stub(spark):
    with pytest.raises(NotImplementedError):
        M.decode_image(M.synth_media(spark, 1))


def test_streaming_dedup_groups_match_batch(spark, tmp_path):
    """The streaming dedup ledger equals the batch fingerprint groups,
    and is insensitive to micro-batch arrival order (min-agg policy)."""
    import os
    from semcode_spark.streaming.incremental import streaming_dedup_groups
    from semcode_spark.operators.dedup import exact_dups

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    out = streaming_dedup_groups(
        spark, os.path.join(sf, "documents.parquet"), str(tmp_path / "ckpt"),
        query_name="sd_test")
    got = {r["fp"]: (r["keep_id"], r["n"]) for r in out.collect()}
    want = {}
    for r in exact_dups(docs).collect():
        k, n = want.get(r["fp"], (r["doc_id"], 0))
        want[r["fp"]] = (min(k, r["doc_id"]), r["group_size"])
    assert got == want
