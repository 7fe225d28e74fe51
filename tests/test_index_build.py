"""Index build: stats exactness, block layout, resume, skew salting."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators import blocks as B
from semcode_spark.operators.index_build import (
    build_index, read_index, term_doc_tf,
)
from semcode_spark.oracle import BM25Oracle

CFG = EngineConfig(
    bm25=BM25Config(),
    index=IndexConfig(term_buckets=8, block_size=16, hot_term_df_ratio=0.05, salt_factor=4),
)


@pytest.fixture(scope="module")
def corpus(documents):
    rows = documents.select("doc_id", "text").collect()
    return {r["doc_id"]: r["text"] for r in rows}


@pytest.fixture(scope="module")
def index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    summary = build_index(spark, documents, out, cfg=CFG, groups=3)
    assert summary["n_docs"] == documents.count()
    idx = read_index(spark, out)
    idx["_dir"] = out
    return idx


def test_corpus_stats_exact(index, corpus):
    oracle = BM25Oracle(corpus)
    row = index["corpus"].collect()[0]
    assert row["n_docs"] == oracle.n
    assert row["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)


def test_term_stats_exact(index, corpus):
    oracle = BM25Oracle(corpus)
    got = {r["term"]: (r["df"], r["cf"]) for r in index["term_stats"].collect()}
    want_df = dict(oracle.df)
    assert {t: d for t, (d, _) in got.items()} == want_df
    # cf = total occurrences
    for t, (_, cf) in got.items():
        assert cf == sum(c.get(t, 0) for c in oracle.tf.values())


def test_postings_decode_match_tf(index, documents, corpus):
    """The posting rows reproduce the flat tf relation exactly, and the
    block columns follow the doc_id layout's rule: each (term, salt)
    run, in doc_id order, is cut into blocks of block_size postings,
    and every row carries its block's max BM25 weight."""
    want = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in term_doc_tf(documents).collect()
    }
    avgdl = index["corpus"].collect()[0]["avgdl"]
    dl = {r["doc_id"]: r["doc_len"] for r in index["docs"].collect()}
    got, runs = {}, {}
    for r in index["postings"].collect():
        key = (r["term"], r["doc_id"])
        assert key not in got, f"duplicate posting {key}"
        got[key] = r["tf"]
        runs.setdefault((r["term"], r["salt"]), []).append(r)
    assert got == want
    bs = CFG.index.block_size
    for run in runs.values():
        run.sort(key=lambda r: r["doc_id"])
        assert [r["block_id"] for r in run] == [i // bs for i in range(len(run))]
        ws = B.bm25_w(np.array([r["tf"] for r in run]),
                      np.array([dl[r["doc_id"]] for r in run]),
                      avgdl, CFG.bm25.k1, CFG.bm25.b)
        for b0 in range(0, len(run), bs):
            block = run[b0:b0 + bs]
            assert {r["max_w"] for r in block} == {float(ws[b0:b0 + bs].max())}
            assert {r["avgdl_enc"] for r in block} == {avgdl}


def test_hot_terms_salted(index):
    """Hot terms appear under >1 salt (skew split), cold terms under salt 0."""
    hot = [r["term"] for r in index["term_stats"].filter("is_hot").collect()]
    assert hot, "fixture corpus should have hot terms"
    salts = (
        index["postings"].groupBy("term")
        .agg(F.countDistinct("salt").alias("ns"))
        .collect()
    )
    ns = {r["term"]: r["ns"] for r in salts}
    assert all(ns[t] > 1 for t in hot)
    assert all(v == 1 for t, v in ns.items() if t not in hot)


def test_resume_skips_completed_and_is_identical(spark, documents, index, tmp_path_factory):
    """Kill after group 0 → resume → final postings identical to a clean
    build, and the manifest shows group 0 was not recomputed."""
    out = str(tmp_path_factory.mktemp("index_resume"))
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, documents, out, cfg=CFG, groups=3, fail_after_group=0)
    man1 = spark.read.parquet(out + "/manifest").count()
    build_index(spark, documents, out, cfg=CFG, groups=3, resume=True)
    man = spark.read.parquet(out + "/manifest")
    assert man.filter("stage = 'postings' and group = 0").count() == 1  # not redone
    assert man.filter("status = 'completed'").count() == man1 + 2

    order = ("term", "salt", "block_id", "doc_id")
    a = read_index(spark, out)["postings"].orderBy(*order).collect()
    b = index["postings"].orderBy(*order).collect()
    assert a == b  # identical rows, blocks and bounds


def test_store_forward_false_build_and_replace(spark, documents, tmp_path):
    """r3 verdict #4: an append-only corpus shouldn't pay the forward
    table's ~20% build cost. store_forward=False builds no forward/,
    meta records the property, and replace still works by reading the
    postings rows, with stats equal to a fresh build."""
    import os

    from semcode_spark.operators.segments import add_segment

    nf_cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_forward=False))
    d = str(tmp_path / "nofwd")
    build_index(spark, documents, d, cfg=nf_cfg, groups=2)
    assert not os.path.isdir(os.path.join(d, "v0", "forward"))
    idx = read_index(spark, d)
    assert idx["forward"] is None

    re_docs = (documents.filter("doc_id >= 100 and doc_id < 120")
               .withColumn("text", F.concat(F.lit("re crawl "), F.col("text"))))
    out = add_segment(spark, d, re_docs)  # inherit: no forward written
    assert out["n_replaced"] == 20
    assert not os.path.isdir(os.path.join(d, "v0", "forward"))

    fresh = (documents.filter("doc_id < 100 or doc_id >= 120")
             .select("doc_id", "text")
             .union(re_docs.select("doc_id", "text")))
    full_dir = str(tmp_path / "full")
    build_index(spark, fresh, full_dir, cfg=nf_cfg, groups=1)
    inc, full = read_index(spark, d), read_index(spark, full_dir)
    a, b = inc["corpus"].collect()[0], full["corpus"].collect()[0]
    assert a["n_docs"] == b["n_docs"]
    assert a["avgdl"] == pytest.approx(b["avgdl"], rel=1e-12)
    ts_a = {r["term"]: (r["df"], r["cf"]) for r in inc["term_stats"].collect()}
    ts_b = {r["term"]: (r["df"], r["cf"]) for r in full["term_stats"].collect()}
    assert ts_a == ts_b


def test_store_forward_false_positional_compaction(spark, documents, tmp_path):
    """Positional index without a forward table: compaction reads the
    forward relation off the positional postings rows (live_forward)
    and phrase answers survive identically."""
    from semcode_spark.operators.query import phrase_match
    from semcode_spark.operators.segments import compact_segments

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_positions=True,
        store_forward=False))
    d = str(tmp_path / "posnofwd")
    build_index(spark, documents.limit(300), d, cfg=cfg, groups=1)
    idx = read_index(spark, d)
    before = {r["doc_id"] for r in
              phrase_match(spark, idx, "table scan").collect()}
    compact_segments(spark, d, cfg=cfg)
    idx2 = read_index(spark, d)
    import os
    assert idx2["forward"] is None  # property preserved through compaction
    assert not os.path.isdir(os.path.join(d, "v1", "forward"))
    after = {r["doc_id"] for r in
             phrase_match(spark, idx2, "table scan").collect()}
    assert after == before


def test_add_segment_forward_mismatch_raises(spark, documents, tmp_path):
    """r4 ADVICE #5: an explicit add_segment cfg whose store_forward
    contradicts the index meta raises (mirroring analyzer/positions);
    cfg=None inherits and proceeds."""
    from semcode_spark.operators.segments import add_segment

    nf_cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_forward=False))
    d = str(tmp_path / "fwd_guard")
    build_index(spark, documents.filter("doc_id < 200"), d, cfg=nf_cfg,
                groups=1)
    with pytest.raises(ValueError, match="forward mismatch"):
        add_segment(spark, d,
                    documents.filter("doc_id >= 200 and doc_id < 220"),
                    cfg=CFG)  # DEFAULT-style cfg stores forward=True
    out = add_segment(spark, d,
                      documents.filter("doc_id >= 200 and doc_id < 220"))
    assert out["n_docs"] == 20


def test_full_rebuild_never_merges_stale_segments(spark, documents, tmp_path):
    """ADVICE r3 #3: resume=False over an index that already has
    committed segments must NOT write into the live version dir (stale
    add_segment postings would stay visible and double-count stats).
    The rebuild lands in v{N+1} with a snapshot flip, like compaction."""
    import os

    from semcode_spark.operators.index_build import read_current_version
    from semcode_spark.operators.segments import add_segment

    d = str(tmp_path / "rebuild")
    base = documents.filter("doc_id < 300")
    build_index(spark, base, d, cfg=CFG, groups=1)
    add_segment(spark, d, documents.filter("doc_id >= 300 and doc_id < 350")
                .select("doc_id", "text"), cfg=CFG)
    assert read_current_version(d) == 0

    # full rebuild over a DIFFERENT corpus slice — nothing of the old
    # segments may leak into the result
    rebuilt = documents.filter("doc_id >= 400")
    build_index(spark, rebuilt, d, cfg=CFG, groups=1)
    assert read_current_version(d) == 1
    assert os.path.isdir(os.path.join(d, "v1"))
    idx = read_index(spark, d)
    n_want = rebuilt.count()
    assert idx["corpus"].collect()[0]["n_docs"] == n_want
    assert idx["docs"].count() == n_want
    ids = {r["doc_id"] for r in idx["docs"].collect()}
    assert ids == {r["doc_id"] for r in rebuilt.collect()}

    full_dir = str(tmp_path / "clean")
    build_index(spark, rebuilt, full_dir, cfg=CFG, groups=1)
    clean = read_index(spark, full_dir)
    ts_a = {r["term"]: (r["df"], r["cf"]) for r in idx["term_stats"].collect()}
    ts_b = {r["term"]: (r["df"], r["cf"]) for r in clean["term_stats"].collect()}
    assert ts_a == ts_b


def test_rebuild_after_crashed_rebuild_skips_tainted_version(
        spark, documents, tmp_path):
    """r4 ADVICE #1: a crashed resume=False rebuild leaves 'completed'
    manifest rows for v{N+1}; a SECOND rebuild must not reuse that
    version — with fewer postings groups (4 → 2) the crashed run's
    stale group=2,3 dirs would stay visible and merge duplicate
    postings/stats into the served index. The retry lands on the next
    FREE version instead."""
    import pytest as _pytest

    from semcode_spark.operators.index_build import read_current_version

    d = str(tmp_path / "crashed_rebuild")
    base = documents.filter("doc_id < 300")
    build_index(spark, base, d, cfg=CFG, groups=1)
    assert read_current_version(d) == 0

    rebuilt = documents.filter("doc_id >= 300")
    with _pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, rebuilt, d, cfg=CFG, groups=4,
                    fail_after_group=1)  # v1 now holds completed groups 0,1
    assert read_current_version(d) == 0  # old snapshot still live

    out = build_index(spark, rebuilt, d, cfg=CFG, groups=2)
    assert out["version"] == 2 and read_current_version(d) == 2
    idx = read_index(spark, d)
    n_want = rebuilt.count()
    assert idx["corpus"].collect()[0]["n_docs"] == n_want
    # postings carry NOTHING from the crashed run: term stats match a
    # clean single-shot build bit-exactly
    clean_dir = str(tmp_path / "clean2")
    build_index(spark, rebuilt, clean_dir, cfg=CFG, groups=2)
    clean = read_index(spark, clean_dir)
    ts_a = {r["term"]: (r["df"], r["cf"]) for r in idx["term_stats"].collect()}
    ts_b = {r["term"]: (r["df"], r["cf"]) for r in clean["term_stats"].collect()}
    assert ts_a == ts_b
    assert idx["postings"].count() == clean["postings"].count()


def test_missing_meta_json_raises(spark, documents, tmp_path):
    """A committed version without meta.json has no known analyzer or
    layout: reading or extending it raises, naming the file, instead of
    opening it as a standard-analyzer index."""
    import os

    from semcode_spark.operators.segments import add_segment

    d = str(tmp_path / "nometa")
    build_index(spark, documents.limit(50), d, cfg=CFG, groups=1)
    os.remove(os.path.join(d, "v0", "meta.json"))
    with pytest.raises(ValueError, match="meta.json"):
        read_index(spark, d)
    with pytest.raises(ValueError, match="meta.json"):
        add_segment(spark, d, documents.filter("doc_id < 5"))
