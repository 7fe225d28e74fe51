"""The full reference query set (24 queries), rank-identical:
pure-Python oracle == exhaustive Spark BM25 == batched block-index path.
"""

import pytest

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.fixtures.queries import REFERENCE_QUERIES
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.query import bm25_topk_batch
from semcode_spark.oracle import BM25Oracle

CFG = EngineConfig(bm25=BM25Config(),
                   index=IndexConfig(term_buckets=16, block_size=32))


@pytest.fixture(scope="module")
def oracle(documents):
    rows = documents.select("doc_id", "text").collect()
    return BM25Oracle({r["doc_id"]: r["text"] for r in rows})


@pytest.fixture(scope="module")
def index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qset_idx"))
    build_index(spark, documents, out, cfg=CFG, groups=1)
    return read_index(spark, out)


def test_reference_query_set_rank_identical(spark, index, oracle):
    got = bm25_topk_batch(spark, index, REFERENCE_QUERIES, cfg=CFG).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    n_nonempty = 0
    for qid, text, k in REFERENCE_QUERIES:
        want = oracle.topk(text, k=k)
        rows = by_q.get(qid, [])
        assert [r["doc_id"] for r in rows] == [d for d, _ in want], f"q{qid}: {text!r}"
        for r, (_, s) in zip(rows, want):
            assert r["score"] == pytest.approx(s, abs=1e-9), f"q{qid}"
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        n_nonempty += bool(rows)
    assert n_nonempty >= 20  # OOV queries are allowed to be empty


def test_highlight_topk_position_windows(spark, documents, oracle, tmp_path_factory):
    """highlight_topk: top-k equals the oracle ranking, first_pos is the
    earliest query-term token position, and the snippet is exactly the
    ±window token slice of the doc — all checked vs a pure-Python
    reference over the raw text."""
    import re

    from semcode_spark.operators.query import highlight_topk

    pos_cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=16, block_size=32, store_positions=True))
    d = str(tmp_path_factory.mktemp("hl_idx"))
    build_index(spark, documents, d, cfg=pos_cfg, groups=1)
    idx = read_index(spark, d)

    query, k, w = "spark query data", 10, 3
    got = highlight_topk(spark, idx, documents, query, k=k, window=w,
                         cfg=pos_cfg).collect()
    want = oracle.topk(query, k=k)
    assert [r["doc_id"] for r in got] == [doc for doc, _ in want]

    text_by_id = {r["doc_id"]: r["text"]
                  for r in documents.select("doc_id", "text").collect()}
    qterms = {"spark", "query", "data"}
    for r in got:
        toks = [t for t in re.split(r"[^a-z0-9]+",
                                    text_by_id[r["doc_id"]].lower()) if t]
        first = min(i for i, t in enumerate(toks) if t in qterms)
        assert r["first_pos"] == first
        lo = max(0, first - w)
        assert r["snippet"] == " ".join(toks[lo:first + w + 1])


def test_suggest_and_vocab_surfaces(spark, documents, tmp_path_factory):
    """Term-dictionary serving surfaces: did-you-mean ranks by
    (edit distance, df desc, term) and never misses a within-distance
    term (the length prefilter is sound: levenshtein >= |len diff|);
    vocab_top_terms equals a direct tf aggregate."""
    import re
    from collections import Counter

    from semcode_spark.operators.query import suggest_terms, vocab_top_terms

    d = str(tmp_path_factory.mktemp("sugg_idx"))
    build_index(spark, documents, d, cfg=CFG, groups=1)
    idx = read_index(spark, d)

    df_py: Counter = Counter()
    for r in documents.select("text").collect():
        toks = {t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t}
        df_py.update(toks)

    def lev(a, b):
        m = [[i + j if i * j == 0 else 0 for j in range(len(b) + 1)]
             for i in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                              m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
        return m[len(a)][len(b)]

    got = suggest_terms(spark, idx, "querry", max_dist=2, n=10).collect()
    want = sorted(
        ((t, lev(t, "querry"), n) for t, n in df_py.items()
         if lev(t, "querry") <= 2),
        key=lambda x: (x[1], -x[2], x[0]))[:10]
    assert [(r["term"], r["dist"], r["df"]) for r in got] == want

    top = vocab_top_terms(spark, idx, n=5).collect()
    want_top = sorted(df_py.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["term"], r["df"]) for r in top] == want_top


def test_facet_counts_or_semantics(spark, documents, tmp_path_factory):
    """facet_counts: per-bucket counts of docs matching ANY query term,
    vs a pure-Python reference."""
    import re
    from collections import Counter

    from semcode_spark.operators.query import facet_counts

    d = str(tmp_path_factory.mktemp("facet_idx"))
    build_index(spark, documents, d, cfg=CFG, groups=1)
    idx = read_index(spark, d)
    got = {(r["facet"], r["n"]) for r in
           facet_counts(spark, idx, documents, "spark query data",
                        "lang").collect()}
    qterms = {"spark", "query", "data"}
    want: Counter = Counter()
    for r in documents.select("doc_id", "text", "lang").collect():
        toks = {t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t}
        if toks & qterms:
            want[r["lang"]] += 1
    assert got == {(lang, n) for lang, n in want.items()}
