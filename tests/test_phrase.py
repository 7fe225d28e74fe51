"""Index-backed phrase search over positional postings.

r2 verdict item: `phrase_match` used to re-shingle the corpus per query;
it is now answered from the persisted index (store_positions=True) with
a relational slot-alignment plan. These tests pin correctness (vs a
pure-Python reference and vs the corpus shingle path), the adversarial
adjacency cases bigram intersection would get wrong, survival of
positions through replace + compaction, and the no-corpus-scan plan.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.query import phrase_match
from semcode_spark.operators.segments import add_segment, compact_segments

CFG = EngineConfig(bm25=BM25Config(), index=IndexConfig(
    term_buckets=8, block_size=16, store_positions=True))


def _py_phrase(rows, phrase):
    """Pure-Python ground truth: exact adjacent-token match."""
    want = [t for t in re.split(r"[^a-z0-9]+", phrase.lower()) if t]
    out = set()
    for doc_id, text in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        for i in range(len(toks) - len(want) + 1):
            if toks[i:i + len(want)] == want:
                out.add(doc_id)
                break
    return out


@pytest.fixture(scope="module")
def pos_index(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("posidx") / "idx")
    build_index(spark, documents, d, cfg=CFG, groups=2)
    return d


def test_phrase_matches_python_reference(spark, documents, pos_index):
    idx = read_index(spark, pos_index)
    rows = [(r["doc_id"], r["text"]) for r in documents.collect()]
    for phrase in ("table scan", "query plan", "the data"):
        got = {r["doc_id"] for r in phrase_match(spark, idx, phrase).collect()}
        assert got == _py_phrase(rows, phrase), phrase


def test_phrase_three_terms_and_adversarial_adjacency(spark, tmp_path):
    """Bigram-intersection false positive: a doc containing 'a b' and
    'b c' in DIFFERENT places must not match 'a b c'."""
    docs = spark.createDataFrame(
        [(1, "x a b c y"),          # true match
         (2, "x b c y a b"),        # both bigrams, wrong order → no match
         (3, "a b a b c"),          # match at offset 2
         (4, "a c b"),              # no
         (5, "go go stop go go go")],
        "doc_id long, text string")
    d = str(tmp_path / "adv")
    build_index(spark, docs, d, cfg=CFG, groups=1)
    idx = read_index(spark, d)
    assert {r["doc_id"] for r in phrase_match(spark, idx, "a b c").collect()} \
        == {1, 3}
    # duplicate-word phrase: slots must stay distinct
    assert {r["doc_id"] for r in phrase_match(spark, idx, "go go go").collect()} \
        == {5}
    assert {r["doc_id"] for r in phrase_match(spark, idx, "go go").collect()} \
        == {5}
    # single-term phrase degenerates to term lookup
    assert {r["doc_id"] for r in phrase_match(spark, idx, "stop").collect()} \
        == {5}
    with pytest.raises(ValueError, match="empty phrase"):
        phrase_match(spark, idx, "  ... ")


def test_phrase_survives_replace_and_compaction(spark, documents, tmp_path):
    """Positions ride the forward table through add_segment (tombstoned
    docs drop out) and compaction (re-encoded, never re-tokenized)."""
    d = str(tmp_path / "lifecycle")
    base = documents.filter("doc_id < 400")
    build_index(spark, base, d, cfg=CFG, groups=1)
    # replace docs 0-49 with text that INTRODUCES the phrase
    re_docs = (documents.filter("doc_id < 50")
               .select("doc_id", F.concat(F.lit("fresh table scan intro "),
                                          F.col("text")).alias("text")))
    add_segment(spark, d, re_docs, cfg=CFG)
    idx = read_index(spark, d)
    got = {r["doc_id"] for r in phrase_match(spark, idx, "table scan").collect()}
    rows = ([(r["doc_id"], r["text"]) for r in
             documents.filter("doc_id >= 50 and doc_id < 400").collect()]
            + [(r["doc_id"], r["text"]) for r in re_docs.collect()])
    assert got == _py_phrase(rows, "table scan")
    assert {0, 1} <= got  # replaced docs now match

    compact_segments(spark, d, cfg=CFG)
    idx2 = read_index(spark, d)
    assert idx2["positions_stored"]
    got2 = {r["doc_id"] for r in phrase_match(spark, idx2, "table scan").collect()}
    assert got2 == got


def test_phrase_plan_never_scans_corpus(spark, pos_index):
    """The phrase plan reads positional postings blocks (term filter
    pushed to the scan) — no documents.parquet, no shingle explode."""
    idx = read_index(spark, pos_index)
    df = phrase_match(spark, idx, "table scan")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "postings" in plan
    assert "documents" not in plan
    # term predicate reaches the blocks scan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "term" in pushed


def test_non_positional_index_refuses_phrase(spark, documents, tmp_path):
    flat_cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16))
    d = str(tmp_path / "flat")
    build_index(spark, documents.limit(50), d, cfg=flat_cfg, groups=1)
    idx = read_index(spark, d)
    with pytest.raises(ValueError, match="no positions"):
        phrase_match(spark, idx, "table scan")
    # and mixing positional segments into a flat index is refused
    with pytest.raises(ValueError, match="positions mismatch"):
        add_segment(spark, d, documents.filter("doc_id >= 50 and doc_id < 60"),
                    cfg=CFG)


def test_phrase_topk_ranked_containment(spark, documents, pos_index):
    """phrase_topk = docs containing the phrase, BM25-ranked — equals
    the exhaustive corpus BM25 restricted to the python phrase set."""
    from semcode_spark.operators.index_build import read_index as _ri
    from semcode_spark.operators.query import bm25_scores, phrase_topk

    idx = _ri(spark, pos_index)
    rows = [(r["doc_id"], r["text"]) for r in documents.collect()]
    want_docs = _py_phrase(rows, "table scan")
    got = phrase_topk(spark, idx, "table scan", k=10, cfg=CFG).collect()
    assert {r["doc_id"] for r in got} <= want_docs
    # reference ranking: exhaustive corpus BM25 over the phrase terms,
    # restricted to phrase-containing docs
    scores = {r["doc_id"]: r["score"] for r in
              bm25_scores(documents, ["table", "scan"], CFG).collect()
              if r["doc_id"] in want_docs}
    want = sorted(scores.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:10]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, abs=1e-9)


@pytest.fixture(scope="module")
def rare_pos_index(spark, documents, tmp_path_factory):
    """Positional index whose corpus contains a genuinely RARE phrase
    term: the fixture vocabulary is near-uniform (every term df ≈ 0.8n,
    all above the prefilter's df < n/2 selectivity gate), so exercising
    the prefilter needs an injected rare marker — 'rareword scan' is
    appended to 30 docs."""
    d = str(tmp_path_factory.mktemp("rareidx") / "idx")
    docs = documents.select(
        "doc_id",
        F.when(F.col("doc_id") < 30,
               F.concat(F.col("text"), F.lit(" rareword scan tail")))
        .otherwise(F.col("text")).alias("text"))
    build_index(spark, docs, d, cfg=CFG, groups=1)
    return d


def test_phrase_and_prefilter_path_equal(spark, documents, rare_pos_index):
    """The AND-candidate prefilter (forced via prune_min_blocks=0; the
    'rareword' phrases genuinely pass the df < n/2 selectivity gate)
    and the direct path return identical phrase sets. A batch takes the
    prefilter for the whole set only when every phrase passes its gate:
    one phrase that fails (stopword-frequent terms, or a single term)
    turns it off. Either way each phrase's batch answer equals its
    unfiltered single answer."""
    from semcode_spark.operators.query import (
        _phrase_candidates, _query_terms, phrase_topk, phrase_topk_batch)

    idx = read_index(spark, rare_pos_index)
    forced = EngineConfig(bm25=BM25Config(prune_min_blocks=0),
                          index=CFG.index)
    for phrase in ("rareword scan", "scan rareword", "table scan"):
        a = {r["doc_id"] for r in phrase_match(spark, idx, phrase, CFG).collect()}
        b = {r["doc_id"] for r in
             phrase_match(spark, idx, phrase, forced).collect()}
        assert a == b, phrase
    assert {r["doc_id"] for r in
            phrase_match(spark, idx, "rareword scan", forced).collect()} \
        == set(range(30))

    passing = [(0, "rareword scan", 10), (1, "scan rareword", 5),
               (2, "rareword scan tail", 10)]
    for queries, fires in ((passing, True),
                           (passing + [(3, "table scan", 10)], False),
                           (passing + [(3, "rareword", 10)], False)):
        q_terms = {q: _query_terms(idx, p) for q, p, _ in queries}
        assert (_phrase_candidates(spark, idx, q_terms, forced)[0]
                is not None) == fires, queries
        got: dict = {}
        for r in phrase_topk_batch(spark, idx, queries, cfg=forced).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9)))
        for qid, phrase, k in queries:
            want = [(i + 1, r["doc_id"], round(r["score"], 9)) for i, r in
                    enumerate(phrase_topk(spark, idx, phrase, k, CFG).collect())]
            assert sorted(got.get(qid, [])) == want, (qid, phrase)
        assert len(got[0]) == 10 and got[1]


def test_positional_build_crash_resume(spark, documents, tmp_path):
    """A positional build killed after group 0 resumes to an index whose
    phrase answers and stats equal a clean build's."""
    d1, d2 = str(tmp_path / "crash"), str(tmp_path / "clean")
    docs = documents.limit(300)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, docs, d1, cfg=CFG, groups=3, fail_after_group=0)
    build_index(spark, docs, d1, cfg=CFG, groups=3, resume=True)
    build_index(spark, docs, d2, cfg=CFG, groups=1)
    i1, i2 = read_index(spark, d1), read_index(spark, d2)
    assert i1["positions_stored"] and i2["positions_stored"]
    for phrase in ("table scan", "the data"):
        a = {r["doc_id"] for r in phrase_match(spark, i1, phrase).collect()}
        b = {r["doc_id"] for r in phrase_match(spark, i2, phrase).collect()}
        assert a == b, phrase
    ts1 = {r["term"]: (r["df"], r["cf"]) for r in i1["term_stats"].collect()}
    ts2 = {r["term"]: (r["df"], r["cf"]) for r in i2["term_stats"].collect()}
    assert ts1 == ts2


def test_add_segment_inherits_index_properties(spark, documents, pos_index,
                                               tmp_path):
    """ADVICE r3 #1: `cli add` against a `build --positions` index used
    to die on the positions-mismatch guard because it passed DEFAULT.
    add_segment(cfg=None) now inherits analyzer/positions/forward from
    the index's meta — and the inherited segment serves phrase hits."""
    import shutil

    from semcode_spark.operators.segments import index_cfg

    d = str(tmp_path / "inherit")
    shutil.copytree(pos_index, d)
    inherited = index_cfg(d)
    assert inherited.index.store_positions is True
    new = spark.createDataFrame(
        [(90001, "totally fresh table scan appendix")], "doc_id long, text string")
    out = add_segment(spark, d, new)  # cfg=None → inherit
    assert out["n_docs"] == 1
    idx = read_index(spark, d)
    got = {r["doc_id"] for r in phrase_match(spark, idx, "table scan").collect()}
    assert 90001 in got
    # an explicitly contradictory cfg still refuses
    flat = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, store_positions=False))
    with pytest.raises(ValueError, match="positions mismatch"):
        add_segment(spark, d, new.withColumn("doc_id", F.lit(90002)), cfg=flat)


def test_phrase_prefilter_single_positional_decode(spark, documents,
                                                   rare_pos_index):
    """r3 verdict #6: the AND-prefilter used to positional-decode AND
    doc-id-decode the SAME blocks (every phrase term's). The plan now
    reads the phrase terms' positions exactly ONCE; the candidate side
    reads doc_ids of the RAREST term only (its scan pushes a term
    EQUALITY, not the full term set)."""
    idx = read_index(spark, rare_pos_index)
    forced = EngineConfig(bm25=BM25Config(prune_min_blocks=0),
                          index=CFG.index)
    df = phrase_match(spark, idx, "rareword scan", forced)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    # the prefilter fired: a join against the candidate rows exists,
    # its scan is pruned to the rare term ALONE (equality pushdown)
    assert "EqualTo(term,rareword)" in plan
    # the postings are plain rows: no Python decode node at all, and
    # the positions are exploded once
    assert plan.count("MapInArrow") == 0
    assert plan.count("explode(cast(positions") == 1
    # the positions column is read by exactly one scan: the candidate
    # side reads doc_ids only
    assert plan.count("positions:array<int>") == 1
    # and the result is still served with zero corpus access
    assert "documents" not in plan


def test_phrase_topk_batch_matches_singles(spark, documents, pos_index):
    """phrase_topk_batch (one decode job for the whole phrase set) is
    per-phrase identical to the single-query path, including per-query
    k, duplicate-word phrases, and no-hit phrases (r4 verdict item 5)."""
    from semcode_spark.operators.index_build import read_index as _ri
    from semcode_spark.operators.query import phrase_topk, phrase_topk_batch

    phrases = [(0, "table scan", 10), (1, "query plan", 5),
               (2, "the data", 7), (3, "zzz_nohit phrase", 10),
               (4, "the the", 10)]
    serving = _ri(spark, pos_index, cache=True)
    try:
        for idx in (_ri(spark, pos_index), serving):
            batch = phrase_topk_batch(spark, idx, phrases, cfg=CFG).collect()
            got = {}
            for r in batch:
                got.setdefault(r["query_id"], []).append(
                    (r["rank"], r["doc_id"], round(r["score"], 9)))
            for qid, phrase, k in phrases:
                want = [(i + 1, r["doc_id"], round(r["score"], 9))
                        for i, r in enumerate(phrase_topk(
                            spark, idx, phrase, k=k, cfg=CFG).collect())]
                assert sorted(got.get(qid, [])) == want, (qid, phrase)
    finally:
        _release(serving)


def test_phrase_topk_batch_validates(spark, pos_index):
    from semcode_spark.operators.index_build import read_index as _ri
    from semcode_spark.operators.query import phrase_topk_batch

    idx = _ri(spark, pos_index)
    with pytest.raises(ValueError, match="empty phrase"):
        phrase_topk_batch(spark, idx, [(0, "???", 10)], cfg=CFG)
    assert phrase_topk_batch(spark, idx, [], cfg=CFG).count() == 0


def _release(idx):
    for name in ("docs", "term_stats", "term_bounds", "postings"):
        idx[name].unpersist()


def test_phrase_serving_equals_cold_after_replace(spark, documents, tmp_path):
    """A serving handle (read_index(cache=True)) over a positional index
    with one add_segment replace gives a cold handle's answers for every
    phrase surface and highlight_topk: the cache holds the
    tombstone-filtered rows with their positions."""
    from semcode_spark.operators.query import (
        highlight_topk, phrase_topk, phrase_topk_batch)

    d = str(tmp_path / "served")
    build_index(spark, documents, d, cfg=CFG, groups=2)
    re_docs = (documents.filter("doc_id < 40")
               .select("doc_id", F.concat(F.lit("fresh table scan intro "),
                                          F.col("text")).alias("text")))
    add_segment(spark, d, re_docs, cfg=CFG)
    phrases = [(0, "table scan", 10), (1, "query plan", 5), (2, "the data", 7),
               (3, "fresh table", 10), (4, "zzz_nohit phrase", 3)]

    def rounded(rows):  # scores summed in another order may differ by an ulp
        return [tuple(round(v, 9) if isinstance(v, float) else v for v in r)
                for r in rows]

    cold, serving = read_index(spark, d), read_index(spark, d, cache=True)
    try:
        answers = []
        for idx in (cold, serving):
            answers.append((
                sorted(r["doc_id"] for r in
                       phrase_match(spark, idx, "table scan", CFG).collect()),
                rounded(phrase_topk(spark, idx, "table scan", 10, CFG).collect()),
                sorted(rounded(phrase_topk_batch(spark, idx, phrases, CFG).collect())),
                rounded(highlight_topk(spark, idx, documents, "fresh table scan",
                                       k=5, cfg=CFG).collect()),
            ))
    finally:
        _release(serving)
    assert answers[0] == answers[1]
    matched, top, batch, highlights = answers[0]
    assert set(range(40)) <= set(matched)  # the replaced docs now match
    assert [r[2:] for r in batch if r[0] == 0] == top
    assert len(highlights) == 5
