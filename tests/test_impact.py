"""Impact-ordered retrieval: MaxScore term skip + impact-prefix block
skip + forward completion is LOSSLESS (rank-identical to exhaustive
BM25), and the impact block layout holds the same posting rows as the
doc_id layout. r4 verdict item 1.
"""

import pytest
from pyspark.sql import functions as F

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import (
    build_index, posting_positions, read_index,
)
from semcode_spark.operators.query import (
    bm25_topk, phrase_match, wand_topk, wand_topk_impact,
)

CFG = EngineConfig(
    bm25=BM25Config(),
    index=IndexConfig(term_buckets=8, block_size=16, hot_term_df_ratio=0.05,
                      salt_factor=4),
)
CFG_IMPACT = EngineConfig(
    bm25=BM25Config(),
    index=IndexConfig(term_buckets=8, block_size=16, hot_term_df_ratio=0.05,
                      salt_factor=4, impact_ordered=True),
)

QUERIES = ["the", "window merge", "spark query data",
           "slow batch value filter", "zzz_nohit"]


@pytest.fixture(scope="module")
def impact_index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_impact"))
    build_index(spark, documents, out, cfg=CFG_IMPACT, groups=2)
    return read_index(spark, out)


@pytest.fixture(scope="module")
def docid_index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_docid"))
    build_index(spark, documents, out, cfg=CFG, groups=2)
    return read_index(spark, out)


def test_impact_layout_decode_identical(spark, impact_index, docid_index):
    """Same corpus, both layouts: the posting multiset is identical —
    impact ordering only regroups postings into blocks."""
    a = sorted(map(tuple, impact_index["postings"]
                   .select("term", "doc_id", "tf").collect()))
    b = sorted(map(tuple, docid_index["postings"]
                   .select("term", "doc_id", "tf").collect()))
    assert a == b and len(a) > 0


def test_impact_layout_blockmax_decays(spark, impact_index):
    """The property the prefix bound rests on: within every (term, salt)
    run, block max_w is non-increasing in block_id."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("term", "salt").orderBy("block_id")
    bad = (impact_index["postings"]
           .select("term", "salt", "block_id", "max_w").distinct()
           .withColumn("prev", F.lag("max_w").over(w))
           .filter(F.col("prev").isNotNull()
                   & (F.col("max_w") > F.col("prev") + 1e-12))
           .count())
    assert bad == 0


@pytest.mark.parametrize("query", QUERIES)
def test_impact_equals_exhaustive_both_layouts(
        spark, documents, impact_index, docid_index, query):
    if query == "zzz_nohit":
        assert wand_topk_impact(spark, impact_index, query, k=10,
                                cfg=CFG_IMPACT).count() == 0
        return
    want = [(r["doc_id"], round(r["score"], 9))
            for r in bm25_topk(documents, query, k=10).collect()]
    for idx, cfg in ((impact_index, CFG_IMPACT), (docid_index, CFG)):
        got = [(r["doc_id"], round(r["score"], 9))
               for r in wand_topk_impact(spark, idx, query, k=10,
                                         cfg=cfg).collect()]
        assert got == want


def test_impact_prunes_blocks(spark, impact_index):
    """The decode-volume claim: on the impact layout a multi-term query
    decodes strictly fewer blocks than the candidate set (the r4 static
    filter measured exactly 100% survivors on every query set)."""
    stats = {"exact": True}
    wand_topk_impact(spark, impact_index, "the data", k=10,
                     cfg=CFG_IMPACT, stats=stats).collect()
    assert stats["blocks_candidate"] > 0
    assert stats["blocks_decoded"] < stats["blocks_candidate"]
    # an out-of-vocabulary query still reports its (empty) decode volume
    stats = {"exact": True}
    assert wand_topk_impact(spark, impact_index, "zzznotaword", k=10,
                            cfg=CFG_IMPACT, stats=stats).collect() == []
    assert stats["blocks_candidate"] == stats["blocks_decoded"] == 0


def test_impact_dispatch_via_wand(spark, impact_index):
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         wand_topk(spark, impact_index, "spark query data", k=10,
                   cfg=CFG_IMPACT, prune="impact").collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         wand_topk_impact(spark, impact_index, "spark query data", k=10,
                          cfg=CFG_IMPACT).collect()]
    assert a == b


def test_impact_requires_forward(spark, documents, tmp_path):
    """Without the forward table exact completion would have to re-decode
    the skipped lists — impact mode refuses instead of hiding the
    regression."""
    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_forward=False,
        impact_ordered=True))
    d = str(tmp_path / "nofwd")
    build_index(spark, documents.limit(100), d, cfg=cfg, groups=1)
    idx = read_index(spark, d)
    with pytest.raises(ValueError, match="forward"):
        wand_topk_impact(spark, idx, "the data", k=10, cfg=cfg)


def test_impact_theta_tie_boundary(spark, tmp_path):
    """The θ-tie adversarial corpus from test_wand, under impact mode:
    bucket-edge pruning must keep the doc_id-asc tie winners."""
    rows = [(i, "apple banana") for i in range(30)]
    rows += [(100 + i, "cherry date elderberry fig") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "tie_impact")
    build_index(spark, docs, out, cfg=CFG_IMPACT, groups=1)
    idx = read_index(spark, out)
    for q in ("apple", "apple banana"):
        want = bm25_topk(docs, q, k=10, cfg=CFG_IMPACT).collect()
        got = wand_topk_impact(spark, idx, q, k=10, cfg=CFG_IMPACT).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], abs=1e-12)


def test_impact_with_replacement(spark, documents, tmp_path):
    """Tombstones + replace deltas: impact answers equal exhaustive BM25
    over the UPDATED corpus (dead candidates must contribute nothing,
    live dfs drive the idfs)."""
    from semcode_spark.operators.segments import add_segment

    d = str(tmp_path / "impact_replace")
    build_index(spark, documents, d, cfg=CFG_IMPACT, groups=2)
    re_docs = documents.filter("doc_id < 40").withColumn(
        "text", F.concat(F.lit("fresh spark query data "), F.col("text")))
    add_segment(spark, d, re_docs)
    idx = read_index(spark, d)
    assert idx["_n_tombstones"] > 0
    updated = documents.filter("doc_id >= 40").unionByName(re_docs)
    for q in ("spark query data", "the"):
        want = [(r["doc_id"], round(r["score"], 9))
                for r in bm25_topk(updated, q, k=10, cfg=CFG_IMPACT).collect()]
        got = [(r["doc_id"], round(r["score"], 9))
               for r in wand_topk_impact(spark, idx, q, k=10,
                                         cfg=CFG_IMPACT).collect()]
        assert got == want


def test_impact_positions_phrase_identical(spark, documents, tmp_path):
    """store_positions + impact layout: each posting row keeps its own
    positions whatever block it lands in — phrase answers match the doc_id
    layout bit-for-bit."""
    cfg_pos = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_positions=True))
    cfg_pos_imp = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_positions=True,
        impact_ordered=True))
    d1, d2 = str(tmp_path / "pos_docid"), str(tmp_path / "pos_impact")
    sub = documents.limit(300)
    build_index(spark, sub, d1, cfg=cfg_pos, groups=1)
    build_index(spark, sub, d2, cfg=cfg_pos_imp, groups=1)
    i1, i2 = read_index(spark, d1), read_index(spark, d2)
    a = sorted(map(tuple, posting_positions(i1)
                   .select("term", "doc_id", "pos").collect()))
    b = sorted(map(tuple, posting_positions(i2)
                   .select("term", "doc_id", "pos").collect()))
    assert a == b and len(a) > 0
    p1 = {r["doc_id"] for r in phrase_match(spark, i1, "table scan").collect()}
    p2 = {r["doc_id"] for r in phrase_match(spark, i2, "table scan").collect()}
    assert p1 == p2


def test_impact_compaction_preserves_layout(spark, documents, tmp_path):
    """Compaction re-encodes under the INDEX's layout (meta-carried):
    the compacted index still decays and still answers identically."""
    from semcode_spark.operators.segments import compact_segments

    d = str(tmp_path / "impact_compact")
    build_index(spark, documents, d, cfg=CFG_IMPACT, groups=2)
    before = [(r["doc_id"], round(r["score"], 9)) for r in
              wand_topk_impact(spark, read_index(spark, d),
                               "spark query data", k=10,
                               cfg=CFG_IMPACT).collect()]
    compact_segments(spark, d, cfg=CFG_IMPACT)
    idx2 = read_index(spark, d)
    assert idx2["impact_layout"] is True
    after = [(r["doc_id"], round(r["score"], 9)) for r in
             wand_topk_impact(spark, idx2, "spark query data", k=10,
                              cfg=CFG_IMPACT).collect()]
    assert after == before


def test_batch_impact_matches_flat(spark, documents, tmp_path):
    """Batched impact retrieval == flat batch, including replaced docs
    (tombstones), per-query k, OOV queries, and single-term queries —
    three jobs for the whole set, decode bounded by the merged plans."""
    from semcode_spark.operators.query import bm25_topk_batch
    from semcode_spark.operators.segments import add_segment

    d = str(tmp_path / "batchimp")
    build_index(spark, documents, d, cfg=CFG_IMPACT, groups=2)
    add_segment(spark, d, documents.filter("doc_id < 30").withColumn(
        "text", F.concat(F.lit("fresh spark query data "), F.col("text"))))
    idx = read_index(spark, d)
    queries = [(0, "spark query data", 10), (1, "dup merge", 10),
               (2, "the", 5), (3, "table scan", 7), (4, "zzz_nohit", 3),
               (5, "sort batch window", 10)]

    def rows(prune):
        out = bm25_topk_batch(spark, idx, queries, cfg=CFG_IMPACT,
                              prune=prune).collect()
        return sorted((r["query_id"], r["rank"], r["doc_id"],
                       round(r["score"], 9)) for r in out)

    assert rows("impact") == rows(False)


def test_batch_impact_requires_forward(spark, documents, tmp_path):
    from semcode_spark.operators.query import bm25_topk_batch

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_forward=False))
    d = str(tmp_path / "batchimp_nofwd")
    build_index(spark, documents.limit(100), d, cfg=cfg, groups=1)
    idx = read_index(spark, d)
    with pytest.raises(ValueError, match="forward"):
        bm25_topk_batch(spark, idx, [(0, "the data", 5)], cfg=cfg,
                        prune="impact").collect()


def test_auto_switches_to_impact_past_block_threshold(
        spark, documents, impact_index, monkeypatch):
    """prune='auto' = flat below impact_auto_min_blocks (measured r4),
    impact above it (r5) — and the switch is invisible in the answers."""
    import semcode_spark.operators.query as Q
    from semcode_spark.operators.query import bm25_topk_batch

    low = EngineConfig(bm25=BM25Config(impact_auto_min_blocks=1),
                       index=CFG_IMPACT.index)
    calls = {"n": 0}
    real = Q._impact_rows

    def spy(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(Q, "_impact_rows", spy)
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            wand_topk(spark, impact_index, "spark query data", k=10,
                      cfg=CFG_IMPACT, prune=False).collect()]
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           wand_topk(spark, impact_index, "spark query data", k=10,
                     cfg=low, prune="auto").collect()]
    assert got == want and calls["n"] == 1
    # default threshold: auto stays flat (impact not invoked)
    wand_topk(spark, impact_index, "spark query data", k=10,
              cfg=CFG_IMPACT, prune="auto").collect()
    assert calls["n"] == 1

    # batch auto follows the same switch, rank-identically
    queries = [(0, "spark query data", 10), (1, "the", 5)]
    a = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
               for r in bm25_topk_batch(
                   spark, impact_index, queries, cfg=low,
                   prune="auto").collect())
    assert calls["n"] == 2
    b = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
               for r in bm25_topk_batch(
                   spark, impact_index, queries, cfg=CFG_IMPACT,
                   prune=False).collect())
    assert a == b
