"""Block-index retrieval == exhaustive BM25: the flat and the impact plan
(bounded decode) are lossless, for single queries and batches, SURVEY §5."""

import uuid

import pytest

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.query import bm25_topk, wand_topk

CFG = EngineConfig(
    bm25=BM25Config(),
    index=IndexConfig(term_buckets=8, block_size=16, hot_term_df_ratio=0.05, salt_factor=4),
)

QUERIES = ["the", "window merge", "spark query data", "slow batch value filter"]


@pytest.fixture(scope="module")
def index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_wand"))
    build_index(spark, documents, out, cfg=CFG, groups=2)
    return read_index(spark, out)


@pytest.mark.parametrize("query", QUERIES)
def test_wand_equals_exhaustive(spark, documents, index, query):
    want = bm25_topk(documents, query, k=10).collect()
    # prune="impact" forces the θ-bootstrap + bounded-decode plan
    got = wand_topk(spark, index, query, k=10, prune="impact").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


@pytest.mark.parametrize("query", ["spark query data"])
def test_wand_auto_matches_forced(spark, index, query):
    a = wand_topk(spark, index, query, k=10, prune="auto").collect()
    b = wand_topk(spark, index, query, k=10, prune="impact").collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]


@pytest.mark.parametrize("query", ["the", "spark query data"])
def test_unpruned_index_path_matches(spark, documents, index, query):
    want = bm25_topk(documents, query, k=10).collect()
    got = wand_topk(spark, index, query, k=10, prune=False).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]


def test_wand_theta_tie_boundary(spark, tmp_path):
    """Adversarial θ-tie corpus: many docs with bit-identical BM25 scores
    (same tf, same doc_len) straddling the k-th rank. Raw-θ strict
    pruning would drop every block (ub == θ) and return empty / wrong
    doc_ids; bucket-lower-edge pruning must return the doc_id-asc
    winners, identical to the exhaustive path."""
    rows = [(i, "apple banana") for i in range(30)]          # 30 exact ties
    rows += [(100 + i, "cherry date elderberry fig") for i in range(5)]  # non-matching
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "tie_index")
    build_index(spark, docs, out, cfg=CFG, groups=1)
    idx = read_index(spark, out)
    want = bm25_topk(docs, "apple", k=10, cfg=CFG).collect()
    got = wand_topk(spark, idx, "apple", k=10, cfg=CFG, prune="impact").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want] == list(range(10))
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-12)


def test_wand_theta_tie_multiterm(spark, tmp_path):
    """Same boundary with a multi-term query: ties across blocks where
    ub + rest lands exactly on θ."""
    rows = [(i, "apple banana apple") for i in range(25)]
    rows += [(200 + i, "banana") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "tie_index2")
    build_index(spark, docs, out, cfg=CFG, groups=1)
    idx = read_index(spark, out)
    want = bm25_topk(docs, "apple banana", k=12, cfg=CFG).collect()
    got = wand_topk(spark, idx, "apple banana", k=12, cfg=CFG,
                    prune="impact").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-12)


def test_query_with_fallback_ladder(spark, index, monkeypatch):
    """Degraded-result path: a failure of the default plan falls back to
    the flat scan
    with identical results; total failure degrades to an empty result
    instead of raising (reference rag/pipeline.py:54-79)."""
    import semcode_spark.operators.query as Q
    from semcode_spark.operators.query import query_with_fallback, wand_topk

    want = [(r["doc_id"], round(r["score"], 9)) for r in
            wand_topk(spark, index, "spark query data", k=10, cfg=CFG, prune=False).collect()]

    rows, mode, why = query_with_fallback(spark, index, "spark query data", k=10, cfg=CFG)
    assert mode == "auto" and why == []
    assert [(r["doc_id"], round(r["score"], 9)) for r in rows] == want

    real = Q._scores
    calls = {"n": 0}

    def fail_first(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected decode failure")
        return real(*a, **kw)

    monkeypatch.setattr(Q, "_scores", fail_first)
    rows, mode, why = query_with_fallback(spark, index, "spark query data", k=10, cfg=CFG)
    assert mode == "flat"
    # the swallowed rung failure is surfaced, mode-tagged (r3 advice #7)
    assert why == ["auto: RuntimeError: injected decode failure"]
    assert [(r["doc_id"], round(r["score"], 9)) for r in rows] == want

    monkeypatch.setattr(Q, "_scores",
                        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("down")))
    rows, mode, why = query_with_fallback(spark, index, "spark query data", k=10, cfg=CFG)
    assert mode == "degraded" and rows == []
    assert [w.split(":")[0] for w in why] == ["auto", "flat"]
    assert all("down" in w for w in why)

    monkeypatch.setattr(Q, "_scores", real)
    with pytest.raises(ValueError, match="empty query"):
        query_with_fallback(spark, index, "???", k=10, cfg=CFG)


@pytest.fixture(scope="module")
def served(spark, documents, tmp_path_factory):
    """(cold, serving) handles on one index that had one add_segment
    replace, so the serving cache holds tombstone-filtered rows."""
    from pyspark.sql import functions as F
    from semcode_spark.operators.segments import add_segment

    out = str(tmp_path_factory.mktemp("serving_idx"))
    build_index(spark, documents, out, cfg=CFG, groups=2)
    add_segment(spark, out, documents.filter("doc_id < 30").withColumn(
        "text", F.concat(F.lit("fresh spark query data "), F.col("text"))),
        cfg=CFG)
    cold = read_index(spark, out)
    hot = read_index(spark, out, cache=True)
    yield cold, hot
    for name in ("docs", "term_stats", "term_bounds", "postings"):
        hot[name].unpersist()


BATCH = [(0, "spark query data", 10), (1, "dup merge", 10), (2, "the", 5),
         (3, "table scan", 7), (4, "zzz_nohit", 3), (5, "sort batch window", 10)]


def _batch_rows(spark, idx, prune):
    from semcode_spark.operators.query import bm25_topk_batch

    out = bm25_topk_batch(spark, idx, BATCH, cfg=CFG, prune=prune).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                  for r in out)


def test_serving_mode_matches_cold(spark, served):
    """cache=True serving mode (decoded posting cache + driver term
    dict) returns results identical to the cold path for every query
    mode, single and batched, on an index with tombstones."""
    from semcode_spark.operators.query import wand_topk_impact

    cold, hot = served
    assert "_term_dict" in hot  # tiny vocab → driver dict engaged
    assert cold["_n_tombstones"] > 0
    for q in QUERIES:
        want = wand_topk(spark, cold, q, k=10, cfg=CFG, prune="impact").collect()
        want = [(r["doc_id"], round(r["score"], 9)) for r in want]
        for prune in (False, "auto", "impact"):
            got = wand_topk(spark, hot, q, k=10, cfg=CFG, prune=prune).collect()
            assert [(r["doc_id"], round(r["score"], 9)) for r in got] == want, \
                (q, prune)
        got = wand_topk_impact(spark, hot, q, k=10, cfg=CFG).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in got] == want, q
    want = _batch_rows(spark, cold, False)
    for prune in (False, "auto", "impact"):
        assert _batch_rows(spark, hot, prune) == want, prune


PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython", "ExistingRDD")


def _executed_nodes(df) -> list[str]:
    """One line per node of the executed plan, adaptive query stages
    included. Cached relations are not descended into: the plan that
    filled a cache ran at open, not in this query."""
    lines: list[str] = []

    def walk(node) -> None:
        lines.append(node.simpleString(100))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "ReusedExchangeExec":
            kids = [node.child()]
        else:  # an InMemoryTableScan is a leaf: its relation is no child
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        for kid in kids:
            walk(kid)

    walk(df._jdf.queryExecution().executedPlan())
    return lines


def test_warm_serving_runs_no_python(spark, served, monkeypatch):
    """Every job of a warm wand_topk and of a warm bm25_topk_batch
    (auto and impact) runs in the JVM: no Arrow/Python UDF node and no
    scan of a Python-built RDD in any executed plan."""
    from semcode_spark.operators.query import bm25_topk_batch

    _, hot = served
    df_cls = type(hot["docs"])
    real = df_cls.collect
    plans: list[list[str]] = []

    def recording(self):
        rows = real(self)
        plans.append(_executed_nodes(self))
        return rows

    monkeypatch.setattr(df_cls, "collect", recording)
    calls = [lambda: wand_topk(spark, hot, "spark query data", k=10, cfg=CFG),
             lambda: bm25_topk_batch(spark, hot, BATCH, cfg=CFG, prune="auto"),
             lambda: bm25_topk_batch(spark, hot, BATCH, cfg=CFG, prune="impact")]
    for call in calls:
        del plans[:]
        call().collect()
        assert plans
        bad = [ln for p in plans for ln in p
               if any(n in ln for n in PYTHON_NODES)]
        assert not bad, bad


def test_batch_pruning_lossless(spark, documents, tmp_path):
    """Batched impact plan (VERDICT r2 #6): per-query θ bootstrap +
    merged per-term cuts return EXACTLY the flat batch answer, including
    θ-tie buckets and replaced docs."""
    from pyspark.sql import functions as F
    from semcode_spark.operators.query import bm25_topk_batch
    from semcode_spark.operators.segments import add_segment

    d = str(tmp_path / "batchidx")
    build_index(spark, documents, d, cfg=CFG, groups=2)
    add_segment(spark, d, documents.filter("doc_id < 30").withColumn(
        "text", F.concat(F.lit("fresh spark query data "), F.col("text"))),
        cfg=CFG)
    idx = read_index(spark, d)
    queries = [(0, "spark query data", 10), (1, "dup merge", 10),
               (2, "the", 5), (3, "table scan", 7), (4, "zzz_nohit", 3),
               (5, "sort batch window", 10)]

    def rows(prune):
        out = bm25_topk_batch(spark, idx, queries, cfg=CFG, prune=prune).collect()
        return sorted((r["query_id"], r["rank"], r["doc_id"],
                       round(r["score"], 9)) for r in out)

    assert rows("impact") == rows(False)


def test_conjunctive_topk_requires_all_terms(spark, documents, index):
    """bm25_topk_conj = exhaustive BM25 restricted to docs containing
    EVERY query term, rank-identical."""
    from pyspark.sql import functions as F
    from semcode_spark.operators.index_build import term_doc_tf
    from semcode_spark.operators.query import bm25_scores, bm25_topk_conj

    terms = ["spark", "query", "data"]
    tf = term_doc_tf(documents, cfg=CFG)
    must = {r["doc_id"] for r in
            tf.filter(F.col("term").isin(terms)).groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nt"))
            .filter(F.col("nt") == len(terms)).collect()}
    scores = {r["doc_id"]: r["score"] for r in
              bm25_scores(documents, terms, CFG).collect()
              if r["doc_id"] in must}
    want = sorted(scores.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:10]

    got = bm25_topk_conj(spark, index, "spark query data", k=10, cfg=CFG).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, abs=1e-9)
    assert all(r["doc_id"] in must for r in got)


def test_bm25_scores_without_terms_is_empty(documents):
    from semcode_spark.operators.query import bm25_scores

    out = bm25_scores(documents, [])
    assert out.columns == ["doc_id", "score"]
    assert out.collect() == []


def test_batch_rejects_duplicate_query_ids(spark, index):
    from semcode_spark.operators.query import bm25_topk_batch

    with pytest.raises(ValueError, match="duplicate query_id"):
        bm25_topk_batch(spark, index, [(0, "spark", 5), (0, "data", 5)], cfg=CFG)


def _job_count(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_serving_job_budget(spark, served):
    """The serving cache is hash-partitioned by doc_id and carries
    doc_len, so a warm single query is one job with no exchange (filter,
    per-doc aggregate and a local top-k per partition, merged on the
    driver); a batch shuffles only for its per-query window."""
    from semcode_spark.operators.index_build import live_forward
    from semcode_spark.operators.query import bm25_topk_batch

    _, hot = served
    assert "doc_len" in hot["postings"].columns
    assert set(live_forward(hot).columns) == {"doc_id", "term", "tf", "doc_len"}
    q = wand_topk(spark, hot, "spark query data", k=10, cfg=CFG)
    assert _job_count(spark, q.collect) == 1
    assert not [ln for ln in _executed_nodes(q) if "Exchange" in ln]
    for prune, budget in (("auto", 2), ("impact", 5)):
        n = _job_count(spark, lambda: bm25_topk_batch(
            spark, hot, BATCH, cfg=CFG, prune=prune).collect())
        assert n <= budget, (prune, n)


def _py4j_commands(fn) -> int:
    """py4j commands the driver sends while ``fn()`` runs, minus the
    memory-delete commands that release Java objects whose Python
    proxies were garbage-collected (when depends on the collector)."""
    import gc

    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    n = 0

    def counting(self, command):
        nonlocal n
        n += not command.startswith("m\nd\n")
        return real(self, command)

    gc.collect()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", counting)
        fn()
    return n


def test_batch_plan_py4j_calls_do_not_grow(spark, served):
    """Building a batch plan sends a constant number of py4j commands:
    terms, idfs, cuts, query ids and k enter the plan as one SQL or JSON
    literal each, not one Column per entry. A 24-query batch may send at
    most 1.2x the commands of a 6-query batch."""
    from semcode_spark.operators.query import bm25_topk_batch

    _, hot = served
    vocab = sorted(hot["_term_dict"])[:72]
    big = [(i, " ".join(vocab[3 * i: 3 * i + 3]), 10) for i in range(24)]
    small = big[:6]
    for prune in ("auto", "impact"):
        def build(qs):
            return lambda: bm25_topk_batch(spark, hot, qs, cfg=CFG, prune=prune)
        build(big)()  # first call: one-time class lookups
        n_small = _py4j_commands(build(small))
        n_big = _py4j_commands(build(big))
        assert n_big <= 1.2 * n_small, (prune, n_small, n_big)


def test_literal_maps_round_trip(spark):
    """Driver-side dicts enter the plan bit-exact: doubles at the edges
    of the range, and keys with quotes, backslashes and non-ASCII text,
    through both the JSON map literal and the SQL IN list."""
    import math

    from semcode_spark.operators.query import _lit_map, _terms_in

    keys = ["o'neil", "back\\slash", "naïve 漢字 😀", "plain", "''\\'"]
    vals = [0.1 + 0.2, 5e-324, 1.7976931348623157e308, -1e30, -math.inf]
    d = dict(zip(keys, vals))
    got = spark.range(1).select(_lit_map(d).alias("m")).collect()[0]["m"]
    assert got == d  # float ==: bit-exact for these values
    ints = {"7": [1, 2 ** 40], "x": []}
    got = spark.range(1).select(
        _lit_map(ints, "array<bigint>").alias("m")).collect()[0]["m"]
    assert got == ints
    rows = spark.createDataFrame([(k,) for k in keys + ["other", "o"]], "term string")
    assert sorted(r["term"] for r in rows.filter(_terms_in(keys)).collect()) \
        == sorted(keys)
    assert rows.filter(_terms_in([])).count() == 0


@pytest.mark.parametrize("kw", [{"prune": "flat"}, {"prune": "Impact"},
                                {"prune": None}, {"prune": 0}, {"k": 0},
                                {"k": -1}, {"k": 2.5}, {"k": True},
                                {"prune": True}])
def test_bad_plan_and_k_rejected(spark, index, kw):
    """An unknown plan choice or a k that is not a positive int is a
    caller error, raised before any Spark work."""
    from semcode_spark.operators.query import bm25_topk_batch, wand_topk_impact

    k = kw.get("k", 10)
    with pytest.raises(ValueError, match="prune|k must"):
        wand_topk(spark, index, "spark query data", k=k, cfg=CFG,
                  prune=kw.get("prune", "auto"))
    with pytest.raises(ValueError, match="prune|k must"):
        bm25_topk_batch(spark, index, [(0, "spark query data", k)], cfg=CFG,
                        prune=kw.get("prune", "auto"))
    if "k" in kw:
        with pytest.raises(ValueError, match="k must"):
            wand_topk_impact(spark, index, "spark query data", k=k, cfg=CFG)


def test_cold_read_index_runs_one_job(spark, served, monkeypatch):
    """A cold open reads the tombstone count from parquet footers on
    the driver instead of running a Spark count, and falls back to the
    Spark count when a footer cannot be read."""
    import pyarrow.parquet as pq

    cold, _ = served
    assert cold["_n_tombstones"] == cold["tombstones"].count() > 0
    n = _job_count(spark, lambda: read_index(spark, cold["_dir"]))
    assert n <= 1, n

    def unreadable(*a, **kw):
        raise OSError("unreadable footer")

    monkeypatch.setattr(pq, "read_metadata", unreadable)
    assert read_index(spark, cold["_dir"])["_n_tombstones"] \
        == cold["_n_tombstones"]


@pytest.mark.parametrize("handle", ["cold", "serving"])
def test_single_query_equals_its_batch_slice(spark, served, handle):
    """One planner: for the flat and the impact plan, a single query's
    answer equals a batch of one and its slice of the 6-query batch
    (doc_id, score and rank), on cold and serving handles."""
    from semcode_spark.operators.query import bm25_topk_batch

    idx = dict(zip(("cold", "serving"), served))[handle]

    def ranked(rows):
        return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                      for r in rows)

    for prune in (False, "impact"):
        full = ranked(bm25_topk_batch(spark, idx, BATCH, cfg=CFG,
                                      prune=prune).collect())
        for qid, q, k in BATCH:
            single = [(qid, i + 1, r["doc_id"], round(r["score"], 9))
                      for i, r in enumerate(wand_topk(
                          spark, idx, q, k=k, cfg=CFG, prune=prune).collect())]
            alone = ranked(bm25_topk_batch(spark, idx, [(qid, q, k)], cfg=CFG,
                                           prune=prune).collect())
            assert single == alone == [r for r in full if r[0] == qid], (q, prune)


@pytest.mark.parametrize("qid", ["a", 2.5, True, None, 2 ** 63])
def test_batch_rejects_non_int_query_ids(spark, index, qid):
    """A query id the plan cannot carry as a bigint is a caller error,
    not an empty answer; True is no int id (it would collide with 1)."""
    from semcode_spark.operators.query import bm25_topk_batch, phrase_topk_batch

    queries = [(1, "spark query data", 5), (qid, "spark", 5)]
    for fn in (bm25_topk_batch, phrase_topk_batch):
        with pytest.raises(ValueError, match="query_id must be"):
            fn(spark, index, queries, cfg=CFG)


def _sql_plans(spark, fn) -> list[str]:
    """The physical plan text of every SQL execution ``fn()`` runs
    (queries, counts and writes alike), read from the session's SQL
    status store. Cached relations print their fill plans nested, so a
    Python node anywhere below an execution shows up."""
    store = spark._jsparkSession.sharedState().statusStore()

    def tail(n):
        total = store.executionsCount()
        seq = store.executionsList(max(0, total - n), n)
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in tail(1)), default=-1)
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return [e.physicalPlanDescription() for e in tail(500)
            if e.executionId() > last]


def test_cold_paths_run_no_python(spark, documents, tmp_path):
    """Plain posting rows need no decode: no executed plan of
    build_index and add_segment (over docs with no Python UDF), of cold
    wand_topk, auto and impact batches and phrase_topk, or of the cached
    open holds a Python node."""
    from pyspark.sql import functions as F
    from semcode_spark.operators.query import bm25_topk_batch, phrase_topk
    from semcode_spark.operators.segments import add_segment

    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=8, block_size=16, hot_term_df_ratio=0.05, salt_factor=4,
        store_positions=True, impact_ordered=True))
    d = str(tmp_path / "plain_rows")

    def cached_open():
        idx = read_index(spark, d, cache=True)
        for name in ("docs", "term_stats", "term_bounds", "postings"):
            idx[name].unpersist()

    steps = [
        ("build_index", lambda: build_index(
            spark, documents.limit(300), d, cfg=cfg, groups=2)),
        ("add_segment", lambda: add_segment(
            spark, d, documents.filter("doc_id < 20").withColumn(
                "text", F.concat(F.lit("fresh spark query data "), F.col("text"))))),
        ("cold wand_topk", lambda: wand_topk(
            spark, read_index(spark, d), "spark query data", k=10, cfg=cfg).collect()),
        ("cold auto batch", lambda: bm25_topk_batch(
            spark, read_index(spark, d), BATCH, cfg=cfg, prune="auto").collect()),
        ("cold impact batch", lambda: bm25_topk_batch(
            spark, read_index(spark, d), BATCH, cfg=cfg, prune="impact").collect()),
        ("cold phrase_topk", lambda: phrase_topk(
            spark, read_index(spark, d), "table scan", k=5, cfg=cfg).collect()),
        ("cached open", cached_open),
    ]
    for name, step in steps:
        plans = _sql_plans(spark, step)
        assert plans, name
        bad = [n for p in plans for n in PYTHON_NODES if n in p]
        assert not bad, (name, bad)


def test_plan_reported_in_stats(spark, served):
    """A stats dict receives the plan the planner ran: auto resolves to
    flat below impact_auto_min_blocks and to impact past it (the test
    index is doc_id-ordered, so auto needs the impact layout flag too)."""
    from semcode_spark.operators.query import bm25_topk_batch, wand_topk_impact

    cold, _ = served
    low = EngineConfig(bm25=BM25Config(impact_auto_min_blocks=1), index=CFG.index)
    for prune, cfg, layout, want in ((False, CFG, False, "flat"),
                                     ("auto", CFG, True, "flat"),
                                     ("auto", low, False, "flat"),
                                     ("auto", low, True, "impact"),
                                     ("impact", CFG, False, "impact")):
        idx = {**cold, "impact_layout": layout}
        st: dict = {}
        wand_topk(spark, idx, "spark query data", k=10, cfg=cfg, prune=prune,
                  stats=st).collect()
        assert st["plan"] == want, (prune, layout)
        st = {}
        bm25_topk_batch(spark, idx, BATCH, cfg=cfg, prune=prune, stats=st).collect()
        assert st["plan"] == want, (prune, layout)
    st = {}
    wand_topk_impact(spark, cold, "spark", k=5, cfg=CFG, stats=st).collect()
    assert st["plan"] == "impact"


def test_cli_query_prints_the_plan(spark, documents, tmp_path, monkeypatch, capsys):
    """`cli query` prints the plan that ran, not the requested mode: on a
    tiny impact-ordered index, auto prints "flat" under the default
    threshold and "impact" with impact_auto_min_blocks=1."""
    import json

    import semcode_spark.session as session
    from semcode_spark import cli
    from semcode_spark.operators import query as Q

    d = str(tmp_path / "cli_idx")
    build_index(spark, documents.limit(200), d, groups=1,
                cfg=EngineConfig(bm25=BM25Config(), index=IndexConfig(
                    term_buckets=4, block_size=16, impact_ordered=True)))
    monkeypatch.setattr(session, "get_spark", lambda *a, **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    def plan() -> str:
        capsys.readouterr()
        assert cli.main(["query", "--index", d, "--query", "spark query data"]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["mode"] == "auto" and out["hits"]
        return out["plan"]

    assert plan() == "flat"
    low = EngineConfig(bm25=BM25Config(impact_auto_min_blocks=1))
    defaults = list(Q.wand_topk.__defaults__)
    defaults[defaults.index(Q.DEFAULT)] = low
    monkeypatch.setattr(Q.wand_topk, "__defaults__", tuple(defaults))
    assert plan() == "impact"


def test_layout_2_index_rejected(spark, documents, tmp_path):
    """An index whose meta.json says layout 2 (encoded posting blocks)
    is refused by every reader and writer with an error naming both
    layouts and the remedy; no fallback reader exists."""
    import json
    import os

    from semcode_spark.operators.segments import add_segment, compact_segments

    d = str(tmp_path / "old_layout")
    build_index(spark, documents.limit(100), d, cfg=CFG, groups=1)
    meta_path = os.path.join(d, "v0", "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["layout"] == 3
    with open(meta_path, "w") as f:
        json.dump({**meta, "layout": 2}, f)
    msg = r"layout-2 index.*layout 3.*rebuild"
    with pytest.raises(ValueError, match=msg):
        read_index(spark, d)
    with pytest.raises(ValueError, match=msg):
        add_segment(spark, d, documents.filter("doc_id < 5"))
    with pytest.raises(ValueError, match=msg):
        compact_segments(spark, d, cfg=CFG)
    with pytest.raises(ValueError, match=msg):
        build_index(spark, documents.limit(100), d, cfg=CFG, groups=1, resume=True)
    # a full rebuild is the way forward: it lands in a fresh version
    out = build_index(spark, documents.limit(100), d, cfg=CFG, groups=1)
    assert out["version"] == 1
    assert read_index(spark, d)["postings"].count() > 0


def test_manifest_read_falls_back_to_spark(spark, served, monkeypatch):
    """On a filesystem pyarrow cannot reach (s3://, hdfs://: no local
    directory either) the manifest comes back through Spark's reader;
    only a path Spark reports missing reads as no rows."""
    import os

    import pyarrow.parquet as pq

    from semcode_spark.operators import index_build as IB

    cold, _ = served
    man_dir = os.path.join(cold["_dir"], "manifest")
    want = IB._manifest_rows(spark, man_dir, cold["_version"])
    assert want

    def unreachable(*a, **kw):
        raise OSError("no filesystem for scheme")

    real_isdir = os.path.isdir
    monkeypatch.setattr(pq, "read_table", unreachable)
    monkeypatch.setattr(os.path, "isdir",
                        lambda p: False if p.rstrip("/") == man_dir else real_isdir(p))
    got = IB._manifest_rows(spark, man_dir, cold["_version"])
    key = ("stage", "group", "status", "rows", "version")
    assert sorted(tuple(r[c] for c in key) for r in got) \
        == sorted(tuple(r[c] for c in key) for r in want)
    assert IB._manifest_rows(spark, man_dir + "_missing", cold["_version"]) == []
