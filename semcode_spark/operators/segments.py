"""Incremental index maintenance — LSM/segment style.

The reference's async jobs add repositories to a live index one at a
time (api/main.py:142-161 → services/indexer.py:65-133, Milvus absorbs
the merge; re-adding with force *replaces* a repo's entries,
ingestion/manager.py:108-115 + keyed upsert storage/milvus_store.py:87-133).
Our persisted index absorbs new documents the way Lucene does: each
increment becomes a new *segment* (one more postings group + per-segment
stats partitions); queries read the union; a compaction pass
merges segments into a fresh snapshot version.

Both mutations write through the build's segment writer
(index_build.write_segment), so a segment's tables are laid out exactly
as a build's. add_segment adds only the replace bookkeeping (collision
set, tombstones, negative deltas) and its single 'segment' visibility
row; compaction feeds the writer the live forward rows. The analyzer,
positions, forward and impact settings are the index's, read once per
call from meta.json: cfg=None inherits them (meta_cfg), an explicit cfg
that contradicts them raises (check_meta), and compaction copies them.

Correctness across segments:
- term_stats / corpus are per-segment partitions aggregated on read
  (index_build.read_index), so idf / avgdl always reflect the full
  corpus — scores are exactly what a from-scratch rebuild would give.
- stored block bounds (max_w) were computed with the segment-time avgdl;
  wand_topk inflates them by max(1, avgdl_now/avgdl_enc), a proven upper
  bound (w is monotone in avgdl with ratio ≤ avgdl_new/avgdl_old), so
  block-max pruning stays lossless.
- re-adding an existing doc_id REPLACES it (replace=True, the default):
  tombstones mark the older postings/doc rows dead (filtered at query
  time), and exact negative stats deltas — corpus from the stored
  doc_len of the removed rows, term df/cf from the removed docs' rows
  in the stored FORWARD table (doc_id, term, tf; range-clustered on
  doc_id) — keep idf/avgdl identical to a fresh build of the
  deduplicated corpus (tests/test_segments.py). Delta cost is
  ∝ the replaced docs' forward rows (row-group-pruned scan + one tiny
  agg), the reference's keyed-upsert cost model
  (storage/milvus_store.py:87-133); indexes without forward/ read the
  same rows off the postings store instead. Compact periodically to
  drop tombstones.

Crash safety:
- a segment becomes visible only when its manifest row commits
  (read_index gates every table on manifest-completed segments); all
  per-segment writes are idempotent overwrites of seg=/group=
  subdirectories, so a crashed add_segment retries cleanly.
- compaction builds a complete new version directory v{N+1} and then
  atomically flips the CURRENT pointer (os.replace — the local analog
  of an Iceberg snapshot commit). A crash at ANY point before the flip
  leaves v{N} fully readable; manifest rows are version-scoped, so the
  aborted v{N+1} rows are invisible and a later resume/compaction
  cannot mis-skip groups.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semcode_spark.config import DEFAULT, EngineConfig
from semcode_spark.operators.index_build import (
    _completed as _completed_for,
    _manifest_append, _manifest_rows, _next_free_version, _verify_done,
    block_postings, check_layout, check_meta, commit_current_version,
    consolidate_small_files, corpus_sums, doc_lengths, index_meta,
    live_forward, meta_cfg, read_current_version, read_index, read_meta,
    term_doc_tf, term_stats, version_dir, write_forward, write_segment,
)
from semcode_spark.sources import tableio as _tio


def _next_group(spark: SparkSession, index_dir: str, version: int) -> int:
    # retrying reader (_manifest_rows): a transient consolidation-swap
    # miss must never look like a brand-new index here — group 0 would
    # be overwritten
    rows = _manifest_rows(spark, os.path.join(index_dir, "manifest"), version)
    groups = [r["group"] for r in rows if r["group"] is not None]
    return max(groups) + 1 if groups else 0


def index_cfg(index_dir: str, base: EngineConfig = DEFAULT) -> EngineConfig:
    """EngineConfig matching an existing index's persisted properties
    (meta_cfg over its meta.json), with every other knob taken from
    ``base``; ``base`` itself when the directory holds no index yet."""
    v = read_current_version(index_dir)
    return base if v is None else meta_cfg(read_meta(version_dir(index_dir, v)), base)


def add_segment(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    cfg: EngineConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    replace: bool = True,
) -> dict:
    """Index new_docs into a fresh segment of an existing (or brand-new)
    index. With replace=True (default), doc_ids already present are
    replaced, never double-counted — the reference's force-reingest
    contract. Mutations are single-writer: a concurrent add/compact/gc
    raises ConcurrentWriterError (sources/tableio.acquire_lease) instead
    of silently losing segments.

    ``cfg=None`` (default) inherits the index's persisted analyzer /
    positions / forward / impact properties (meta_cfg); pass an explicit
    cfg only when creating a brand-new index with non-default knobs —
    a cfg that contradicts an existing index's meta still raises
    (check_meta)."""
    check_layout(spark, index_dir)
    lease = _tio.acquire_lease(index_dir, "add_segment")
    try:
        return _add_segment_locked(spark, index_dir, new_docs, cfg,
                                   id_col, text_col, replace)
    finally:
        _tio.release_lease(lease)


def _collided_docs(
    idx_docs: DataFrame, new_ids: DataFrame, n_new: int, broadcast_max: int
) -> DataFrame:
    """Rows of the live docs table whose doc_id appears in the incoming
    batch. Broadcast the incoming-id side only while it is provably
    small (n_new is the exact incoming count, already computed);
    a mega-batch re-crawl (10^8-10^9 ids) falls through to a shuffle
    join instead of blowing the broadcast limit on every executor."""
    if n_new <= broadcast_max:
        return idx_docs.join(F.broadcast(new_ids), "doc_id")
    return idx_docs.join(new_ids, "doc_id")


def _add_segment_locked(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    cfg: EngineConfig | None,
    id_col: str,
    text_col: str,
    replace: bool,
) -> dict:
    t0 = time.time()
    version = read_current_version(index_dir)
    if version is None:
        cfg = cfg or DEFAULT
        version = 0
        _tio.write_meta(version_dir(index_dir, version), index_meta(cfg))
        commit_current_version(index_dir, version)
    else:
        meta = read_meta(version_dir(index_dir, version))
        if cfg is None:
            cfg = meta_cfg(meta)
        else:
            check_meta(meta, cfg)
    g = _next_group(spark, index_dir, version)

    new_docs = new_docs.persist()
    tf = term_doc_tf(new_docs, id_col, text_col, cfg,
                     with_positions=cfg.index.store_positions).persist()
    ds = doc_lengths(new_docs, tf, id_col).persist()
    collided: DataFrame | None = None
    try:
        cs = corpus_sums(ds, F.countDistinct("doc_id").alias("n_distinct"))
        if not cs["n_docs"]:  # empty increment: nothing to commit
            return {"group": -1, "n_docs": 0, "n_replaced": 0,
                    "wall_s": time.time() - t0}
        n_new = int(cs["n_docs"])
        if int(cs["n_distinct"]) != n_new:
            # tombstones only detect CROSS-segment collisions; a doc_id
            # appearing twice in one batch would double-count stats with
            # no replacement semantics to fall back on — refuse loudly
            raise ValueError(
                f"incoming batch has duplicate doc_ids ({n_new} rows, "
                f"{int(cs['n_distinct'])} distinct) — dropDuplicates or "
                f"pick a winner upstream; within-batch replacement order "
                f"is undefined")

        # ---- replace bookkeeping: exact negative deltas + tombstones ----
        n_coll = 0
        corpus_rows = [(n_new, float(cs["sum_dl"]))]
        ts = term_stats(tf, cfg)
        if g > 0:
            idx = read_index(spark, index_dir)
            new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
            collided = _collided_docs(
                idx["docs"], new_ids, n_new,
                cfg.index.broadcast_ids_max).persist()
            n_coll = collided.count()
            if n_coll and not replace:
                # replace=False is an append-only contract: a colliding
                # doc_id would silently double-count stats and return
                # the same doc twice — refuse instead
                raise ValueError(
                    f"{n_coll} incoming doc_ids already exist in the "
                    f"index and replace=False — use replace=True (the "
                    f"reference force-reingest contract) or drop them "
                    f"upstream")
            if n_coll:
                # corpus delta as the integer doc_len sum of the removed
                # rows — cancels the stored positive sums EXACTLY on read
                old = corpus_sums(collided)
                corpus_rows.append((-n_coll, -float(old["sum_dl"])))
                # term deltas from the collided docs' FORWARD rows —
                # never a scan of the postings store. The forward
                # table is range-clustered on doc_id, so a literal
                # doc_id predicate prunes parquet row groups and the
                # job's cost is ∝ the replaced docs, not the index
                # (live_forward scans the postings only for indexes
                # built without forward/)
                live = live_forward(idx)
                # broadcast_ids_max caps BOTH id-shipping rungs: a
                # literal isin set rides the serialized plan to every
                # task, same cost class as a broadcast
                if n_coll <= min(10_000, cfg.index.broadcast_ids_max):
                    ids = [r["doc_id"] for r in
                           collided.select("doc_id").collect()]
                    dead_tf = live.filter(F.col("doc_id").isin(ids))
                elif n_coll <= cfg.index.broadcast_ids_max:
                    dead_tf = live.join(
                        F.broadcast(collided.select("doc_id")), "doc_id")
                else:
                    # mega-batch replace: a broadcast of 10^8-10^9 ids
                    # would OOM executors — shuffle join; the forward
                    # side is range-clustered so AQE keeps it bounded
                    dead_tf = live.join(collided.select("doc_id"), "doc_id")
                ts = ts.unionByName(dead_tf.groupBy("term").agg(
                    (-F.count(F.lit(1))).alias("df"),
                    (-F.sum("tf")).alias("cf"),
                ))
                collided.select("doc_id").withColumn(
                    "before_group", F.lit(g)
                ).write.mode("overwrite").parquet(
                    os.path.join(version_dir(index_dir, version),
                                 "tombstones", f"seg={g}"))

        # ---- idempotent per-segment writes (invisible until manifest) ----
        # small increments get a small bucket fan-out (bucket ids are
        # group-local): cfg-many near-empty shuffle partitions are pure
        # task overhead for a 10^2-doc re-crawl batch, while a 10^9-doc
        # batch still fans out fully
        write_segment(spark, index_dir, version, cfg, tf, ds, corpus_rows, ts,
                      seg=g, term_buckets=min(cfg.index.term_buckets,
                                              max(8, n_new // 64)))
        # visibility commit: the one manifest row that makes all of the
        # above readable (read_index gates on it)
        _manifest_append(spark, os.path.join(index_dir, "manifest"), "segment",
                         g, "completed", n_new, time.time() - t0, version)
    finally:
        if collided is not None:
            collided.unpersist()
        ds.unpersist()
        tf.unpersist()
        new_docs.unpersist()
    return {"group": g, "n_docs": n_new, "n_replaced": n_coll,
            "wall_s": time.time() - t0}


def compact_segments(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    groups: int = 1,
    resume: bool = False,
    keep_old_version: bool = False,
    fail_before_commit: bool = False,
    fail_after_group: int | None = None,
) -> dict:
    """Merge all live segments into a fresh snapshot version: the live
    (term, doc) rows come from the forward table (never re-tokenized),
    tombstoned docs are dropped physically, and the postings are
    re-bucketed and re-blocked with the full-corpus avgdl;
    stats tables consolidate to one segment. Queries before and after
    return identical results (tests/test_segments.py).

    The new version v{N+1} is built COMPLETELY, then the CURRENT pointer
    flips atomically — a crash at ANY point before the flip leaves v{N}
    readable. ``groups`` is the checkpoint grain of the rewrite itself
    (the same contract as build_index): each bucket group commits a
    version-scoped manifest row, so at 10^12 docs a crashed compaction
    retried with ``resume=True`` skips completed groups instead of
    redoing the whole rewrite. Compaction is a single-writer operation —
    ENFORCED by the writer lease: a segment added to v{N} after the live
    view is captured would be dropped by the flip, so a concurrent
    add_segment now raises ConcurrentWriterError instead of silently
    losing data (the reference serializes jobs the same way,
    api/jobs.py).

    ``fail_before_commit`` / ``fail_after_group`` inject crashes for the
    safety tests. ``keep_old_version`` skips post-commit cleanup of
    v{N} (e.g. while concurrent readers may still hold it open)."""
    lease = _tio.acquire_lease(index_dir, "compact_segments")
    try:
        return _compact_segments_locked(
            spark, index_dir, cfg, groups, resume, keep_old_version,
            fail_before_commit, fail_after_group)
    finally:
        _tio.release_lease(lease)


def _compact_segments_locked(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig,
    groups: int,
    resume: bool,
    keep_old_version: bool,
    fail_before_commit: bool,
    fail_after_group: int | None,
) -> dict:
    t0 = time.time()
    version = read_current_version(index_dir)
    if version is None:
        raise FileNotFoundError(f"no CURRENT pointer under {index_dir}")
    man_dir = os.path.join(index_dir, "manifest")
    nf = _next_free_version(spark, index_dir, version)
    if resume:
        # resume deliberately targets the version the crashed run was
        # building (the highest touched version past CURRENT; v{N+1}
        # when no crash left one) to reuse its completed groups
        new_version = max(version + 1, nf - 1)
    else:
        # a fresh compaction must NEVER build into a version a crashed
        # run touched: its completed manifest rows would union stale
        # group dirs into the committed snapshot (same hazard as the
        # build_index rebuild path — see _next_free_version)
        new_version = nf
    vnew = version_dir(index_dir, new_version)
    # _verify_done guards the resume-after-gc path: gc_versions removing
    # an aborted partial v{N+1} leaves its completed manifest rows behind
    # (the manifest is append-only); trusting them would skip rewriting
    # deleted stages and commit an empty snapshot
    done = _verify_done(vnew, _completed_for(spark, man_dir, new_version)) \
        if resume else set()
    if resume and done:
        # the checkpoint grain is part of the partial state: resuming
        # with a different `groups` would mix pmod(bucket, G) predicates
        # and silently duplicate/drop buckets
        prior = _tio.read_meta(vnew).get("compaction_groups")
        if prior is None:
            # the partial version was NOT built by a compaction — a
            # crashed build_index REBUILD shares the same manifest stage
            # names ('stats'/'postings') but its stages come from
            # arbitrary input docs under its own grain; adopting them
            # would commit a snapshot mixing rebuild groups with
            # compaction groups. Build fresh into the next FREE version
            # instead (a crashed compaction always stamps
            # compaction_groups before its first manifest row, so
            # prior=None ⇔ not-a-compaction).
            new_version, done = nf, set()
            vnew = version_dir(index_dir, new_version)
        elif prior != groups:
            raise ValueError(
                f"compaction resume with groups={groups} but the partial "
                f"run used groups={prior}; pass the same grain")

    idx = read_index(spark, index_dir)
    # the analyzer, positions, forward and impact settings are the
    # INDEX's properties: compaction never re-tokenizes, so it copies the
    # old version's meta and takes only the other knobs from cfg
    cfg = meta_cfg(idx["_meta"], cfg)
    docs_live = idx["docs"].persist()
    try:
        cs = corpus_sums(docs_live)
        n_docs = int(cs["n_docs"])
        if "stats" not in done:
            _tio.write_meta(vnew, {**idx["_meta"], "compaction_groups": groups})
        # the live tf relation comes from the stored forward table (the
        # postings rows when the index has none) — compaction re-blocks,
        # it never re-tokenizes. The consolidated forward table is its
        # own resumable stage
        fwd_live = live_forward(idx, with_positions=cfg.index.store_positions)
        if cfg.index.store_forward and "forward" not in done:
            write_forward(fwd_live, vnew, 0)
            _manifest_append(spark, man_dir, "forward", -1, "completed",
                             n_docs, time.time() - t0, new_version)
        tf_cols = ["term", "doc_id", "doc_len", "tf"] + (
            ["positions"] if cfg.index.store_positions else [])
        tf = fwd_live.join(docs_live, "doc_id").select(*tf_cols)
        write_segment(spark, index_dir, new_version, cfg, tf, docs_live,
                      [(n_docs, float(cs["sum_dl"]))], idx["term_stats"],
                      groups=groups, done=done | {"forward"},
                      fail_after_group=fail_after_group, op="compaction",
                      block=block_postings)
        _manifest_append(spark, man_dir, "compaction", new_version, "completed",
                         n_docs, time.time() - t0, new_version)

        if fail_before_commit:
            raise RuntimeError("injected failure before snapshot commit")

        # ---- the snapshot commit ----
        commit_current_version(index_dir, new_version)
    finally:
        docs_live.unpersist()

    if not keep_old_version:
        # post-commit cleanup; a crash here leaves a harmless orphan dir
        # (gc_versions removes those later)
        shutil.rmtree(version_dir(index_dir, version), ignore_errors=True)
    # consolidate the per-commit manifest/metrics files (small-file
    # pressure at 10^5 groups) — post-commit, under the writer lease
    consolidate_small_files(spark, man_dir)
    consolidate_small_files(spark, os.path.join(index_dir, "metrics"))
    return {"n_docs": n_docs, "version": new_version, "groups": groups,
            "wall_s": time.time() - t0}


def compaction_due(idx: dict, tombstone_ratio: float = 0.2,
                   max_groups: int = 16) -> bool:
    """Operational policy hook: compact when tombstones exceed
    ``tombstone_ratio`` of live docs (query-side anti-join pressure) or
    the segment count exceeds ``max_groups`` (per-query group fan-out).
    Pure metadata: the visible groups and the tombstone count come with
    the handle, so this runs no Spark job, or one tiny corpus read when
    tombstones exist on a cold handle."""
    if len(idx["_groups"]) > max_groups:
        return True
    n_tomb = idx.get("_n_tombstones", 0)
    if not n_tomb:
        return False
    row = idx["_corpus_row"] if "_corpus_row" in idx else idx["corpus"].collect()[0]
    n_docs = int(row["n_docs"])
    return n_docs > 0 and n_tomb / n_docs >= tombstone_ratio


def gc_versions(index_dir: str) -> list[str]:
    """Remove version directories other than the live one: orphans from
    a crash between the CURRENT flip and the old-version cleanup, or an
    aborted compaction's partial v{N+1}. Never touches the committed
    snapshot; returns the removed paths. (Iceberg analog: expire
    snapshots / remove orphan files.) Takes the writer lease — gc racing
    a live compaction would delete the version being built."""
    import re

    lease = _tio.acquire_lease(index_dir, "gc_versions")
    try:
        current = read_current_version(index_dir)
        if current is None:
            return []
        removed = []
        for name in os.listdir(index_dir):
            m = re.fullmatch(r"v(\d+)", name)
            if m and int(m.group(1)) != current:
                path = os.path.join(index_dir, name)
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        return removed
    finally:
        _tio.release_lease(lease)
