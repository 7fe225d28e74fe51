"""Doc replacement (tombstones + exact stats deltas), crash-safe
compaction (snapshot-commit), and manifest-gated segment visibility."""

import pytest
from pyspark.sql import functions as F

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators import segments as SEG
from semcode_spark.operators.index_build import (
    build_index, read_current_version, read_index,
)
from semcode_spark.operators.query import bm25_topk, bm25_topk_batch, wand_topk
from semcode_spark.operators.segments import add_segment, compact_segments

CFG = EngineConfig(bm25=BM25Config(), index=IndexConfig(term_buckets=8, block_size=16))
QUERIES = [(0, "spark query data", 10), (1, "dup merge", 10), (2, "the", 5)]


def _run(spark, index, cfg=CFG):
    rows = bm25_topk_batch(spark, index, QUERIES, cfg=cfg).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                  for r in rows)


@pytest.fixture()
def recrawl(documents):
    """base = all 500 docs; recrawl = docs 100-149 with CHANGED text
    (simulating a re-crawled URL whose content moved on)."""
    base = documents
    re_docs = (documents.filter("doc_id >= 100 and doc_id < 150")
               .withColumn("text", F.concat(F.lit("fresh crawl content "),
                                            F.col("text"))))
    fresh = (documents.filter("doc_id < 100 or doc_id >= 150")
             .select("doc_id", "text")
             .union(re_docs.select("doc_id", "text")))
    return base, re_docs, fresh


def test_replace_equals_fresh_build(spark, recrawl, tmp_path):
    """Re-ingesting existing doc_ids REPLACES them: scores, term_stats
    and corpus stats all equal a from-scratch build of the deduplicated
    corpus (reference force contract, ingestion/manager.py:108-115)."""
    base, re_docs, fresh = recrawl
    inc_dir = str(tmp_path / "inc")
    build_index(spark, base, inc_dir, cfg=CFG, groups=2)
    out = add_segment(spark, inc_dir, re_docs, cfg=CFG)
    assert out["n_replaced"] == 50

    full_dir = str(tmp_path / "full")
    build_index(spark, fresh, full_dir, cfg=CFG, groups=1)

    inc, full = read_index(spark, inc_dir), read_index(spark, full_dir)
    a, b = inc["corpus"].collect()[0], full["corpus"].collect()[0]
    assert a["n_docs"] == b["n_docs"] == 500
    assert a["avgdl"] == pytest.approx(b["avgdl"], rel=1e-12)
    ts_a = {r["term"]: (r["df"], r["cf"]) for r in inc["term_stats"].collect()}
    ts_b = {r["term"]: (r["df"], r["cf"]) for r in full["term_stats"].collect()}
    assert ts_a == ts_b
    # docs table is deduplicated (tombstoned rows filtered)
    assert inc["docs"].count() == 500
    assert inc["docs"].select("doc_id").distinct().count() == 500
    # batch + single-query + WAND answers identical to the fresh build
    assert _run(spark, inc) == _run(spark, full)
    for _, q, k in QUERIES:
        got = wand_topk(spark, inc, q, k=k, cfg=CFG, prune="impact").collect()
        want = bm25_topk(fresh, q, k=k, cfg=CFG).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_replace_then_compact(spark, recrawl, tmp_path):
    """Compaction physically drops tombstoned postings; answers and
    stats survive, tombstones are gone."""
    base, re_docs, fresh = recrawl
    d = str(tmp_path / "inc2")
    build_index(spark, base, d, cfg=CFG, groups=1)
    add_segment(spark, d, re_docs, cfg=CFG)
    before = _run(spark, read_index(spark, d))
    compact_segments(spark, d, cfg=CFG)
    idx = read_index(spark, d)
    assert _run(spark, idx) == before
    assert idx["_n_tombstones"] == 0
    assert idx["docs"].count() == 500
    assert read_current_version(d) == 1


def test_crash_before_snapshot_commit_preserves_old_index(spark, recrawl, tmp_path):
    """Kill compaction just before the CURRENT flip: the old version
    stays fully readable with identical answers; a retried compaction
    then succeeds and is invisible-failure-free."""
    base, re_docs, _ = recrawl
    d = str(tmp_path / "crash")
    build_index(spark, base, d, cfg=CFG, groups=2)
    add_segment(spark, d, re_docs, cfg=CFG)
    before = _run(spark, read_index(spark, d))
    with pytest.raises(RuntimeError, match="injected failure"):
        compact_segments(spark, d, cfg=CFG, fail_before_commit=True)
    # still on version 0, answers identical
    assert read_current_version(d) == 0
    assert _run(spark, read_index(spark, d)) == before
    # retry completes and preserves answers — into a FRESH version, not
    # the crashed run's v1: its completed manifest rows would otherwise
    # union stale group dirs into the committed snapshot (r4 ADVICE #1)
    compact_segments(spark, d, cfg=CFG)
    assert read_current_version(d) == 2
    assert _run(spark, read_index(spark, d)) == before


def test_partial_segment_is_invisible(spark, documents, tmp_path, monkeypatch):
    """A segment whose manifest row never committed (crash mid-add) is
    invisible to read_index — no skewed idf/avgdl from half-written
    stats — and the retried add lands cleanly on the same group."""
    base = documents.filter("doc_id < 350")
    extra = documents.filter("doc_id >= 350")
    d = str(tmp_path / "partial")
    build_index(spark, base, d, cfg=CFG, groups=1)
    before = _run(spark, read_index(spark, d))

    real_append = SEG._manifest_append

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(SEG, "_manifest_append", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        add_segment(spark, d, extra, cfg=CFG)
    # every table write happened, but nothing is visible
    idx = read_index(spark, d)
    assert idx["corpus"].collect()[0]["n_docs"] == 350
    assert _run(spark, idx) == before

    monkeypatch.setattr(SEG, "_manifest_append", real_append)
    out = add_segment(spark, d, extra, cfg=CFG)  # idempotent retry
    assert out["group"] == 1
    idx2 = read_index(spark, d)
    assert idx2["corpus"].collect()[0]["n_docs"] == 500

    full_dir = str(tmp_path / "full")
    build_index(spark, documents, full_dir, cfg=CFG, groups=1)
    assert _run(spark, idx2) == _run(spark, read_index(spark, full_dir))


def test_compaction_resume_skips_completed_groups(spark, recrawl, tmp_path):
    """Group-checkpointed compaction: crash after group 0 → the old
    snapshot stays live; resume completes only the remaining groups
    (manifest shows group 0 once) and answers are preserved."""
    import pyspark.sql.functions as SF

    base, re_docs, _ = recrawl
    d = str(tmp_path / "cresume")
    build_index(spark, base, d, cfg=CFG, groups=1)
    add_segment(spark, d, re_docs, cfg=CFG)
    before = _run(spark, read_index(spark, d))

    with pytest.raises(RuntimeError, match="injected failure after compaction group 0"):
        compact_segments(spark, d, cfg=CFG, groups=3, fail_after_group=0)
    assert read_current_version(d) == 0
    assert _run(spark, read_index(spark, d)) == before

    compact_segments(spark, d, cfg=CFG, groups=3, resume=True)
    assert read_current_version(d) == 1
    idx = read_index(spark, d)
    assert _run(spark, idx) == before
    assert idx["postings"].select("group").distinct().count() == 3
    man = spark.read.parquet(d + "/manifest")
    # group 0 of the compaction rewrite was committed once, not redone
    assert man.filter(
        (SF.col("version") == 1) & (SF.col("stage") == "postings")
        & (SF.col("group") == 0)).count() == 1


def test_add_and_replace_after_compaction(spark, documents, recrawl, tmp_path):
    """Full lifecycle: build → replace → compact → replace again on the
    compacted snapshot; final answers equal a fresh build of the final
    corpus (group numbering and tombstones survive the version flip)."""
    base, re_docs, fresh = recrawl
    d = str(tmp_path / "lifecycle")
    build_index(spark, base, d, cfg=CFG, groups=2)
    add_segment(spark, d, re_docs, cfg=CFG)
    compact_segments(spark, d, cfg=CFG, groups=2)

    # second recrawl wave on the compacted snapshot: docs 200-219 change
    re2 = (documents.filter("doc_id >= 200 and doc_id < 220")
           .withColumn("text", F.concat(F.lit("second wave "), F.col("text"))))
    out = add_segment(spark, d, re2, cfg=CFG)
    assert out["n_replaced"] == 20

    final = (fresh.filter("doc_id < 200 or doc_id >= 220")
             .union(re2.select("doc_id", "text")))
    full_dir = str(tmp_path / "full2")
    build_index(spark, final, full_dir, cfg=CFG, groups=1)
    assert _run(spark, read_index(spark, d)) == \
        _run(spark, read_index(spark, full_dir))


def test_compaction_resume_rejects_grain_change(spark, recrawl, tmp_path):
    base, re_docs, _ = recrawl
    d = str(tmp_path / "grain")
    build_index(spark, base, d, cfg=CFG, groups=1)
    add_segment(spark, d, re_docs, cfg=CFG)
    with pytest.raises(RuntimeError, match="injected failure after compaction group 0"):
        compact_segments(spark, d, cfg=CFG, groups=3, fail_after_group=0)
    with pytest.raises(ValueError, match="compaction resume with groups=4"):
        compact_segments(spark, d, cfg=CFG, groups=4, resume=True)
    # correct grain completes
    compact_segments(spark, d, cfg=CFG, groups=3, resume=True)
    assert read_current_version(d) == 1


def test_compaction_preserves_analyzer(spark, documents, tmp_path):
    """Compacting with a default cfg must NOT re-label a stop_stem index
    as standard (postings are never re-tokenized)."""
    from semcode_spark.config import IndexConfig as IC
    cfg = EngineConfig(bm25=BM25Config(), index=IC(
        term_buckets=8, block_size=16, analyzer="stop_stem"))
    d = str(tmp_path / "an")
    build_index(spark, documents.limit(100), d, cfg=cfg, groups=1)
    compact_segments(spark, d)  # default cfg: analyzer='standard'
    assert read_index(spark, d)["analyzer"] == "stop_stem"


def test_gc_versions_removes_only_orphans(spark, documents, tmp_path):
    from semcode_spark.operators.segments import gc_versions
    import os

    d = str(tmp_path / "gc")
    build_index(spark, documents.limit(100), d, cfg=CFG, groups=1)
    before = _run(spark, read_index(spark, d))
    # aborted compaction leaves a partial v1; a stale v7 orphan too
    with pytest.raises(RuntimeError):
        compact_segments(spark, d, cfg=CFG, fail_before_commit=True)
    os.makedirs(os.path.join(d, "v7"))
    removed = gc_versions(d)
    assert {os.path.basename(p) for p in removed} == {"v1", "v7"}
    assert os.path.isdir(os.path.join(d, "v0"))
    assert _run(spark, read_index(spark, d)) == before


def test_resume_after_gc_rebuilds_missing_stages(spark, recrawl, tmp_path):
    """ADVICE r2 (high): gc_versions removes an aborted partial v1 but
    its 'completed' manifest rows survive (append-only manifest). A
    compact_segments(resume=True) afterwards must NOT trust those rows
    — it re-runs every stage whose data is gone instead of committing
    an empty snapshot and destroying the index."""
    from semcode_spark.operators.segments import gc_versions

    base, re_docs, _ = recrawl
    d = str(tmp_path / "gcresume")
    build_index(spark, base, d, cfg=CFG, groups=1)
    add_segment(spark, d, re_docs, cfg=CFG)
    before = _run(spark, read_index(spark, d))

    # crash mid-compaction: v1 has completed stats + group rows
    with pytest.raises(RuntimeError, match="injected failure"):
        compact_segments(spark, d, cfg=CFG, groups=2, fail_after_group=0)
    # the documented cleanup removes the partial v1 ...
    assert any(p.endswith("v1") for p in gc_versions(d))
    # ... and the documented retry path must still produce a full index
    compact_segments(spark, d, cfg=CFG, groups=2, resume=True)
    assert read_current_version(d) == 1
    idx = read_index(spark, d)
    assert idx["corpus"].collect()[0]["n_docs"] == 500
    assert idx["postings"].select("group").distinct().count() == 2
    assert _run(spark, idx) == before


def test_build_resume_rejects_analyzer_change(spark, documents, tmp_path):
    """ADVICE r2 (medium): build_index into an existing index dir must
    enforce the analyzer contract add_segment already enforces."""
    from semcode_spark.config import IndexConfig as IC

    d = str(tmp_path / "an_guard")
    build_index(spark, documents.limit(50), d, cfg=CFG, groups=1)
    stop_cfg = EngineConfig(bm25=BM25Config(), index=IC(
        term_buckets=8, block_size=16, analyzer="stop"))
    with pytest.raises(ValueError, match="property mismatch"):
        build_index(spark, documents.limit(50), d, cfg=stop_cfg,
                    groups=1, resume=True)
    # a full non-resume rebuild re-labels the index and re-tokenizes
    build_index(spark, documents.limit(50), d, cfg=stop_cfg,
                groups=1)
    assert read_index(spark, d)["analyzer"] == "stop"


def test_add_segment_rejects_intra_batch_duplicates(spark, documents, tmp_path):
    """A batch containing the same doc_id twice has no defined
    replacement order — add_segment refuses instead of double-counting."""
    d = str(tmp_path / "dup_batch")
    build_index(spark, documents.limit(50), d, cfg=CFG, groups=1)
    dup = documents.filter("doc_id >= 50 and doc_id < 60").select("doc_id", "text")
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        add_segment(spark, d, dup.union(dup), cfg=CFG)
    # stats unchanged: the failed add committed nothing
    assert read_index(spark, d)["corpus"].collect()[0]["n_docs"] == 50


def test_legacy_layout_rejected_before_mutation(spark, documents, tmp_path):
    """ADVICE r2 (low): a pre-layout-2 dir (data, no CURRENT, 5-column
    manifest) is rejected up front with a clear error — never
    half-converted by committing a CURRENT pointer first."""
    import os

    d = str(tmp_path / "legacy")
    os.makedirs(os.path.join(d, "postings"))
    spark.createDataFrame(
        [("stats", -1, "completed", 10, 5)],
        "stage string, group int, status string, rows long, wall_ms long",
    ).write.mode("overwrite").parquet(os.path.join(d, "manifest"))
    with pytest.raises(ValueError, match="rebuild"):
        add_segment(spark, d, documents.limit(5), cfg=CFG)
    assert not os.path.exists(os.path.join(d, "CURRENT"))
    with pytest.raises(ValueError, match="rebuild"):
        build_index(spark, documents.limit(5), d, cfg=CFG, groups=1)
    assert not os.path.exists(os.path.join(d, "CURRENT"))


def test_replace_deltas_read_forward_not_postings(spark, recrawl, tmp_path):
    """VERDICT r2 #1: the replace-delta job scans the forward table
    (row-group-pruned by a doc_id predicate), never the postings store
    and never a Python decode kernel."""
    from semcode_spark.operators.index_build import live_forward

    base, re_docs, _ = recrawl
    d = str(tmp_path / "fwd_plan")
    build_index(spark, base, d, cfg=CFG, groups=2)
    idx = read_index(spark, d)
    assert idx["forward"] is not None

    ids = [r["doc_id"] for r in re_docs.select("doc_id").collect()]
    delta = (live_forward(idx).filter(F.col("doc_id").isin(ids))
             .groupBy("term").agg((-F.count(F.lit(1))).alias("df")))
    delta_plan = delta._sc._jvm.PythonSQLUtils.explainString(
        delta._jdf.queryExecution(), "formatted")
    assert "forward" in delta_plan
    assert "postings" not in delta_plan        # no block decode
    assert "mapinpandas" not in delta_plan.lower().replace("_", "")
    assert "PushedFilters: [" in delta_plan    # doc_id predicate reaches the scan
    assert "doc_id" in delta_plan.split("PushedFilters")[1][:300]


def test_replace_falls_back_to_decode_for_legacy_index(spark, recrawl, tmp_path):
    """An index built before forward/ existed still replaces exactly
    (one-off postings decode), so old snapshots need no migration."""
    import os
    import shutil as _sh
    from semcode_spark.operators.index_build import version_dir

    base, re_docs, fresh = recrawl
    d = str(tmp_path / "legacy_fwd")
    build_index(spark, base, d, cfg=CFG, groups=1)
    _sh.rmtree(os.path.join(version_dir(d, 0), "forward"))
    idx = read_index(spark, d)
    assert idx["forward"] is None
    out = add_segment(spark, d, re_docs, cfg=CFG)
    assert out["n_replaced"] == 50
    # r4: the add must NOT write a PARTIAL forward table (one segment's
    # rows would make the next replace's deltas silently wrong)
    assert not os.path.isdir(os.path.join(version_dir(d, 0), "forward"))

    full_dir = str(tmp_path / "legacy_full")
    build_index(spark, fresh, full_dir, cfg=CFG, groups=1)
    inc, full = read_index(spark, d), read_index(spark, full_dir)
    ts_a = {r["term"]: (r["df"], r["cf"]) for r in inc["term_stats"].collect()}
    ts_b = {r["term"]: (r["df"], r["cf"]) for r in full["term_stats"].collect()}
    assert ts_a == ts_b
    assert _run(spark, inc) == _run(spark, full)


def test_mega_batch_broadcast_gating(spark, recrawl, tmp_path):
    """r3 verdict "What's wrong #2": the collision lookup broadcast the
    whole incoming batch's ids unconditionally — fine at 10^2-10^6 docs,
    executor-OOM at a 10^8-id re-crawl. The join ladder now falls
    through to a shuffle join past cfg.index.broadcast_ids_max; the
    shuffle path must replace docs with stats identical to the
    broadcast path's (and to a fresh build)."""
    from semcode_spark.operators.segments import _collided_docs

    base, re_docs, fresh = recrawl
    # plan shape: below the cap → broadcast hint; above → no hint. The
    # optimizer auto-broadcasts ANY tiny table below
    # autoBroadcastJoinThreshold, so disable that to observe only the
    # explicit hint (at 10^8 ids the auto path would not fire either —
    # size stats exceed the threshold — which is exactly the point).
    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    old_thr = spark.conf.get(thr_key)
    spark.conf.set(thr_key, "-1")
    try:
        docs = spark.range(10).select(F.col("id").alias("doc_id"),
                                      F.lit(3).alias("doc_len"))
        ids = spark.range(5).select(F.col("id").alias("doc_id"))
        lo = _collided_docs(docs, ids, 5, broadcast_max=100)
        hi = _collided_docs(docs, ids, 5, broadcast_max=2)
        plan_lo = lo._sc._jvm.PythonSQLUtils.explainString(
            lo._jdf.queryExecution(), "formatted")
        plan_hi = hi._sc._jvm.PythonSQLUtils.explainString(
            hi._jdf.queryExecution(), "formatted")
        assert "BroadcastHashJoin" in plan_lo
        assert "BroadcastHashJoin" not in plan_hi
        assert sorted(r["doc_id"] for r in lo.collect()) \
            == sorted(r["doc_id"] for r in hi.collect())
    finally:
        spark.conf.set(thr_key, old_thr)

    # end-to-end: force every ladder rung to shuffle (broadcast_ids_max=0
    # also drives n_coll > broadcast_ids_max in the delta path) and
    # check replacement still equals a fresh build of the merged corpus
    shuffle_cfg = EngineConfig(
        bm25=CFG.bm25,
        index=IndexConfig(term_buckets=8, block_size=16,
                          broadcast_ids_max=0))
    inc_dir = str(tmp_path / "inc_shuffle")
    build_index(spark, base, inc_dir, cfg=shuffle_cfg, groups=2)
    out = add_segment(spark, inc_dir, re_docs, cfg=shuffle_cfg)
    assert out["n_replaced"] == 50

    full_dir = str(tmp_path / "full_shuffle")
    build_index(spark, fresh, full_dir, cfg=shuffle_cfg, groups=1)
    inc, full = read_index(spark, inc_dir), read_index(spark, full_dir)
    a, b = inc["corpus"].collect()[0], full["corpus"].collect()[0]
    assert a["n_docs"] == b["n_docs"] == 500
    assert a["avgdl"] == pytest.approx(b["avgdl"], rel=1e-12)
    ts_a = {r["term"]: (r["df"], r["cf"]) for r in inc["term_stats"].collect()}
    ts_b = {r["term"]: (r["df"], r["cf"]) for r in full["term_stats"].collect()}
    assert ts_a == ts_b


def test_compaction_resume_never_adopts_crashed_rebuild_stages(
        spark, documents, tmp_path):
    """A crashed resume=False REBUILD leaves 'stats'/'postings' rows for
    v1 under its own grain; a later compact_segments(resume=True) must
    NOT adopt them (meta has no compaction_groups ⇒ the partial version
    was not a compaction) — adopting would commit a snapshot mixing
    rebuild groups (pmod(bucket,4)) with compaction groups
    (pmod(bucket,2)), silently dropping/duplicating buckets."""
    d = str(tmp_path / "rebuild_then_compact")
    base = documents.filter("doc_id < 300")
    build_index(spark, base, d, cfg=CFG, groups=1)
    before = _run(spark, read_index(spark, d))
    with pytest.raises(RuntimeError, match="injected failure"):
        # crashed rebuild over DIFFERENT docs, 4-group grain, lands
        # partial stages in v1
        build_index(spark, documents.filter("doc_id >= 300"), d, cfg=CFG,
                    groups=4, fail_after_group=1)
    assert read_current_version(d) == 0
    out = compact_segments(spark, d, cfg=CFG, groups=2, resume=True)
    # landed on a FRESH version, not the rebuild's v1
    assert out["version"] == 2 and read_current_version(d) == 2
    idx = read_index(spark, d)
    assert idx["docs"].count() == 300  # v0's corpus, not the rebuild's
    assert _run(spark, idx) == before
