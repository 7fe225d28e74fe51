"""Physical-plan quality gates — the 100 TB questions asked of every
operator (would this plan survive a 100× scale-up?):

- filters/projections reach the parquet scan (PushedFilters/ReadSchema)
- small sides broadcast (no sort-merge join for query terms / dims)
- the BM25 query path has no wide shuffle beyond the final agg
- tokenization stays inside WholeStageCodegen (no Python in hot path)
"""

import os

import pytest
from pyspark.sql import functions as F

from semcode_spark.operators.query import bm25_scores
from semcode_spark.operators.index_build import term_doc_tf

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_scan(spark):
    df = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = df.filter(F.col("l_quantity") < 30).select("l_orderkey", "l_quantity")
    s = formatted(q)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,30.0)]" in s
    # column pruning: scan must read only the 2 projected columns
    assert "l_extendedprice" not in s.split("ReadSchema")[1].splitlines()[0]


def test_bm25_query_plan_is_narrow(spark, documents):
    # r6: per-doc query-term tf is computed narrowly over the token
    # array; the only join left is the 1-row corpus-stats broadcast
    # (BroadcastNestedLoopJoin) — no shuffle of a (term, doc) relation
    q = bm25_scores(documents, ["spark", "query"])
    s = plan(q)
    assert "BroadcastNestedLoopJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BatchEvalPython" not in s


def test_bm25_topk_plan_is_take_ordered(spark, documents):
    from semcode_spark.operators.query import bm25_topk
    q = bm25_topk(documents, "spark query", k=10)
    assert "TakeOrderedAndProject" in plan(q)


def test_tokenize_stays_jvm_side_with_partial_agg(spark, documents):
    tf = term_doc_tf(documents)
    s = plan(tf)
    assert "BatchEvalPython" not in s      # no row-at-a-time Python
    assert "ArrowEvalPython" not in s      # tokenize needs no Python at all
    assert "partial_count" in s            # map-side combine before the shuffle
    # r6: a conditional round-robin spread of the single-split local
    # scan (sources.tables.spread) precedes the tokenize stage, so the
    # plan carries at most TWO exchanges: the spread (absent on
    # already-parallel inputs) and the tf aggregation shuffle
    assert 1 <= s.count("Exchange") <= 2


def test_dim_join_broadcasts(spark):
    n = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    r = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    q = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    assert "BroadcastHashJoin" in plan(q)


def test_pipeline_ops_stay_jvm_side(spark, documents):
    """PII scrub / stratified sample / sequence pack are codegen'd
    column expressions — no Python eval nodes anywhere."""
    from semcode_spark.operators import pipeline as P

    for df in (
        P.pii_scrub(documents),
        P.stratified_sample(documents, {"en": 0.1}),
        P.pack_sequences(documents),
    ):
        s = plan(df)
        assert "BatchEvalPython" not in s
        assert "ArrowEvalPython" not in s


def test_pack_sequences_single_shuffle_partitioned_by_shard(spark, documents):
    """The packing window must partition by shard — one hash exchange,
    never a global single-partition sort."""
    from semcode_spark.operators import pipeline as P

    s = plan(P.pack_sequences(documents))
    # r6: a conditional round-robin spread of single-split local scans
    # may precede the window exchange (sources.tables.spread) — the
    # invariant is the absence of a global single-partition sort
    assert 1 <= s.count("Exchange") <= 2
    assert "SinglePartition" not in s


def test_wand_query_path_no_wide_join(spark, documents, tmp_path):
    """The WAND scoring plan: literal term predicates (no per-query
    BroadcastExchange for query terms), docs join broadcast, no
    sort-merge join or cartesian product."""
    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.operators.index_build import build_index, read_index
    from semcode_spark.operators.query import wand_topk

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(term_buckets=8, block_size=16))
    out = str(tmp_path / "planidx")
    build_index(spark, documents.limit(200), out, cfg=cfg, groups=1)
    idx = read_index(spark, out)
    q = wand_topk(spark, idx, "spark query data", k=10, cfg=cfg, prune=False)
    s = plan(q)
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s          # docs join (small side broadcast)
    assert "TakeOrderedAndProject" in s      # top-k never global-sorts
    # term selection is a pushable literal filter, not a join
    assert "term#" in s and s.count("BroadcastHashJoin") == 1


def test_wand_term_filter_pushed_to_postings_scan(spark, documents, tmp_path):
    """The query-term isin filter must reach the postings parquet scan
    (PushedFilters: In(term, ...)) — at web scale this is what lets the
    reader skip row groups via term min/max stats (postings are sorted
    by term within partitions)."""
    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.operators.index_build import build_index, read_index
    from semcode_spark.operators.query import wand_topk

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(term_buckets=8, block_size=16))
    out = str(tmp_path / "pushidx")
    build_index(spark, documents.limit(200), out, cfg=cfg, groups=1)
    idx = read_index(spark, out)
    q = wand_topk(spark, idx, "spark query data", k=10, cfg=cfg, prune=False)
    s = formatted(q)
    pushed = [ln for ln in s.splitlines() if "PushedFilters" in ln and "term" in ln]
    assert pushed, "term filter not pushed to the postings scan"
    assert any("In(term" in ln for ln in pushed), pushed
