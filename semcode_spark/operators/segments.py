"""Incremental index maintenance — LSM/segment style.

The reference's async jobs add repositories to a live index one at a
time (api/main.py:142-161 → services/indexer.py:65-133, Milvus absorbs
the merge; re-adding with force *replaces* a repo's entries,
ingestion/manager.py:108-115 + keyed upsert storage/milvus_store.py:87-133).
Our persisted index absorbs new documents the way Lucene does: each
increment becomes a new *segment* (one more postings group + per-segment
stats partitions); queries read the union; a compaction pass
merges segments into a fresh snapshot version.

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
    _manifest_append, _manifest_rows, _verify_done, block_postings,
    check_layout, check_layout_version, commit_current_version,
    live_forward, read_current_version,
    read_index, read_meta, term_doc_tf, term_stats, version_dir,
    write_forward, write_term_bounds, _write_meta,
)
from semcode_spark.sources import tableio as _tio
from semcode_spark.sources.tables import local_frame


def _next_group(spark: SparkSession, index_dir: str, version: int) -> int:
    # retrying reader (_manifest_rows): a transient consolidation-swap
    # miss must never look like a brand-new index here — group 0 would
    # be overwritten
    rows = _manifest_rows(spark, os.path.join(index_dir, "manifest"), version)
    groups = [r["group"] for r in rows if r["group"] is not None]
    return max(groups) + 1 if groups else 0


def index_cfg(index_dir: str, base: EngineConfig = DEFAULT) -> EngineConfig:
    """EngineConfig matching an existing index's persisted properties
    (analyzer / positions / forward from meta.json), with every other
    knob taken from ``base``. The inherit path for callers that mutate
    an index they didn't build — e.g. ``cli add`` against a
    ``build --positions`` index, which used to raise the
    positions-mismatch guard because it passed DEFAULT."""
    from dataclasses import replace as _dc_replace

    v = read_current_version(index_dir)
    if v is None:
        return base
    meta = read_meta(version_dir(index_dir, v))
    return EngineConfig(bm25=base.bm25, index=_dc_replace(
        base.index,
        analyzer=meta.get("analyzer", "standard"),
        store_positions=bool(meta.get("positions", False)),
        store_forward=bool(meta.get("forward", True)),
        impact_ordered=bool(meta.get("impact", False)),
    ))


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
    positions / forward properties (``index_cfg``); pass an explicit
    cfg only when creating a brand-new index with non-default knobs —
    a cfg that contradicts an existing index's meta still raises."""
    check_layout(spark, index_dir)
    if cfg is None:
        cfg = index_cfg(index_dir)
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
    cfg: EngineConfig,
    id_col: str,
    text_col: str,
    replace: bool,
) -> dict:
    t0 = time.time()
    version = read_current_version(index_dir)
    if version is None:
        version = 0
        _write_meta(version_dir(index_dir, version), cfg)
        commit_current_version(index_dir, version)
    vdir = version_dir(index_dir, version)
    check_layout_version(vdir)
    if read_meta(vdir).get("analyzer", "standard") != cfg.index.analyzer:
        raise ValueError(
            f"analyzer mismatch: index built with "
            f"{read_meta(vdir).get('analyzer')!r}, segment cfg says "
            f"{cfg.index.analyzer!r} — build and query must share one "
            f"analyzer (reference embeddings/providers.py:34-104)")
    store_pos = bool(read_meta(vdir).get("positions", False))
    if store_pos != cfg.index.store_positions:
        raise ValueError(
            f"positions mismatch: index stores positions={store_pos}, "
            f"segment cfg says {cfg.index.store_positions} — a mixed "
            f"index would silently miss phrase hits in new segments")
    store_fwd = bool(read_meta(vdir).get("forward", True))
    if store_fwd != cfg.index.store_forward:
        # mirror of the build_index guard (r4 ADVICE #5): a segment
        # whose forward setting contradicts the index meta would leave
        # compaction/replace reading a forward table with holes
        raise ValueError(
            f"forward mismatch: index stores forward={store_fwd}, "
            f"segment cfg says {cfg.index.store_forward} — pass "
            f"cfg=None to inherit the index's properties")
    store_imp = bool(read_meta(vdir).get("impact", False))
    if store_imp != cfg.index.impact_ordered:
        # queries on a mixed-layout index stay CORRECT (every bound is
        # predicate-based on stored max_w), but a doc_id-ordered
        # segment silently loses the max_w-decay property impact
        # retrieval's prefix pruning relies on — the same
        # silent-property-drift class as the guards above
        raise ValueError(
            f"impact-layout mismatch: index stores impact={store_imp}, "
            f"segment cfg says {cfg.index.impact_ordered} — pass "
            f"cfg=None to inherit the index's properties")
    man_dir = os.path.join(index_dir, "manifest")
    g = _next_group(spark, index_dir, version)

    new_docs = new_docs.persist()
    tf = term_doc_tf(new_docs, id_col, text_col, cfg,
                     with_positions=store_pos).persist()
    collided: DataFrame | None = None
    ds: DataFrame | None = None
    try:
        # doc lengths from the tf relation — one tokenize pass per
        # segment (see build_index); zero-token docs restored via the
        # id spine with doc_len 0
        dl = tf.groupBy("doc_id").agg(F.first("doc_len").alias("doc_len"))
        ds = (new_docs.select(F.col(id_col).alias("doc_id"))
              .join(dl, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("doc_len", F.lit(0)).alias("doc_len"))
              .persist())
        cs = ds.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.countDistinct("doc_id").alias("n_distinct"),
                    F.sum("doc_len").cast("double").alias("sum_dl")).collect()[0]
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
        avgdl_seg = float(cs["sum_dl"]) / n_new

        # ---- replace bookkeeping: exact negative deltas + tombstones ----
        n_coll = 0
        corpus_rows = [(n_new, float(cs["sum_dl"]))]
        neg_ts: DataFrame | None = None
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
                old = collided.agg(F.sum("doc_len").cast("double")
                                   .alias("sum_dl")).collect()[0]
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
                neg_ts = dead_tf.groupBy("term").agg(
                    (-F.count(F.lit(1))).alias("df"),
                    (-F.sum("tf")).alias("cf"),
                ).withColumn("is_hot", F.lit(False))

        # ---- idempotent per-segment writes (invisible until manifest) ----
        ds.write.mode("overwrite").parquet(os.path.join(vdir, "docs", f"seg={g}"))
        local_frame(
            spark, corpus_rows, "n_docs long, sum_dl double"
        ).write.mode("overwrite").parquet(os.path.join(vdir, "corpus", f"seg={g}"))

        thr = max(2.0, cfg.index.hot_term_df_ratio * n_new)
        ts = term_stats(tf, cfg).withColumn(
            "is_hot", F.col("df") > thr).persist()
        ts_out = ts
        if neg_ts is not None:
            ts_out = ts_out.unionByName(neg_ts)
        ts_out.write.mode("overwrite").parquet(
            os.path.join(vdir, "term_stats", f"seg={g}"))
        hot = [r["term"] for r in ts.filter("is_hot")
               .select("term").collect()]
        ts.unpersist()

        if n_coll and collided is not None:
            collided.select("doc_id").withColumn(
                "before_group", F.lit(g)
            ).write.mode("overwrite").parquet(
                os.path.join(vdir, "tombstones", f"seg={g}"))

        # forward is an all-or-nothing INDEX property (meta-gated like
        # positions): a partial forward table — some segments with
        # rows, some without — would silently under-count replace
        # deltas, so new segments write it iff the index carries it.
        # Legacy metas predate the key; the dir's existence decides.
        # And if meta says forward but the table is GONE (manually
        # pruned snapshot), writing one segment's rows would make the
        # next replace's deltas silently partial — stay forward-less.
        fwd_dir = os.path.join(vdir, "forward")
        store_fwd = bool(read_meta(vdir).get(
            "forward", os.path.isdir(fwd_dir)))
        if store_fwd and g > 0 and not os.path.isdir(fwd_dir):
            store_fwd = False
        if store_fwd:
            write_forward(tf, vdir, g)

        # small increments get a small bucket fan-out (bucket ids are
        # group-local): cfg-many near-empty shuffle partitions are pure
        # task overhead for a 10^2-doc re-crawl batch, while a 10^9-doc
        # batch still fans out fully
        seg_buckets = min(cfg.index.term_buckets, max(8, n_new // 64))
        enc = block_postings(tf, avgdl_seg, hot, cfg,
                             with_positions=store_pos,
                             term_buckets=seg_buckets)
        enc.write.mode("overwrite").parquet(
            os.path.join(vdir, "postings", f"group={g}"))
        write_term_bounds(spark, vdir, g)

        # visibility commit: the one manifest row that makes all of the
        # above readable (read_index gates on it)
        _manifest_append(spark, man_dir, "segment", g, "completed",
                         n_new, time.time() - t0, version)
    finally:
        if collided is not None:
            collided.unpersist()
        if ds is not None:
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
    from semcode_spark.operators.index_build import _next_free_version
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
        prior = read_meta(vnew).get("compaction_groups")
        if prior is None:
            # the partial version was NOT built by a compaction — a
            # crashed build_index REBUILD shares the same manifest stage
            # names ('stats'/'postings') but its stages come from
            # arbitrary input docs under its own grain; adopting them
            # would commit a snapshot mixing rebuild groups with
            # compaction groups. Build fresh into the next FREE version
            # instead (a crashed compaction always stamps
            # compaction_groups in the same step as its first
            # manifest row, so prior=None ⇔ not-a-compaction).
            new_version, done = nf, set()
            vnew = version_dir(index_dir, new_version)
        elif prior != groups:
            raise ValueError(
                f"compaction resume with groups={groups} but the partial "
                f"run used groups={prior}; pass the same grain")

    idx = read_index(spark, index_dir)
    docs_live = idx["docs"].persist()
    try:
        cs = docs_live.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").cast("double").alias("sum_dl")).collect()[0]
        n_docs, sum_dl = int(cs["n_docs"]), float(cs["sum_dl"])
        avgdl = sum_dl / n_docs
        thr = max(2.0, cfg.index.hot_term_df_ratio * n_docs)

        if "stats" not in done:
            # the analyzer is the INDEX's property — propagate the old
            # version's meta; compaction never re-tokenizes, so stamping
            # cfg's analyzer here would silently re-label the index
            meta = dict(read_meta(version_dir(index_dir, version)))
            meta["compaction_groups"] = groups
            _tio.write_meta(vnew, meta)
            docs_live.write.mode("overwrite").parquet(
                os.path.join(vnew, "docs", "seg=0"))
            local_frame(
                spark, [(n_docs, sum_dl)], "n_docs long, sum_dl double"
            ).write.mode("overwrite").parquet(os.path.join(vnew, "corpus", "seg=0"))
            idx["term_stats"].withColumn(
                "is_hot", F.col("df") > thr
            ).write.mode("overwrite").parquet(
                os.path.join(vnew, "term_stats", "seg=0"))
            _manifest_append(spark, man_dir, "stats", -1, "completed",
                             n_docs, time.time() - t0, new_version)
        hot = [r["term"] for r in idx["term_stats"].filter(F.col("df") > thr)
               .select("term").collect()]

        # the live tf relation comes from the stored forward table (the
        # postings rows when the index has none) — compaction re-blocks,
        # it never re-tokenizes. positions, like
        # the analyzer, are the INDEX's property: taken from the old
        # version's meta, never from cfg
        old_meta = read_meta(version_dir(index_dir, version))
        store_pos = bool(old_meta.get("positions", False))
        store_fwd = bool(old_meta.get("forward", os.path.isdir(
            os.path.join(version_dir(index_dir, version), "forward"))))
        fwd_live = live_forward(idx, with_positions=store_pos)
        if store_fwd and "forward" not in done:
            write_forward(fwd_live, vnew, 0)
            _manifest_append(spark, man_dir, "forward", -1, "completed",
                             n_docs, time.time() - t0, new_version)
        tf_cols = ["term", "doc_id", "doc_len", "tf"] + (
            ["positions"] if store_pos else [])
        tf = fwd_live.join(docs_live, "doc_id").select(*tf_cols)
        for g in range(groups):
            if f"group={g}" in done:
                continue
            tg = time.time()
            # bucket restriction pushed BEFORE the shuffle (see
            # block_postings): each posting is re-blocked once across
            # the whole grouped compaction
            # layout (impact ordering), like analyzer/positions, is the
            # INDEX's property: carried from the old version's meta
            part = block_postings(
                tf, avgdl, hot, cfg, with_positions=store_pos,
                bucket_filter=(groups, g) if groups > 1 else None,
                impact=bool(old_meta.get("impact", False)))
            part.write.mode("overwrite").parquet(
                os.path.join(vnew, "postings", f"group={g}"))
            rows = write_term_bounds(spark, vnew, g)
            _manifest_append(spark, man_dir, "postings", g, "completed",
                             rows, time.time() - tg, new_version)
            if fail_after_group is not None and g >= fail_after_group:
                raise RuntimeError(f"injected failure after compaction group {g}")

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
    from semcode_spark.operators.index_build import consolidate_small_files
    consolidate_small_files(spark, man_dir)
    consolidate_small_files(spark, os.path.join(index_dir, "metrics"))
    return {"n_docs": n_docs, "version": new_version, "groups": groups,
            "wall_s": time.time() - t0}


def compaction_due(idx: dict, tombstone_ratio: float = 0.2,
                   max_groups: int = 16) -> bool:
    """Operational policy hook: compact when tombstones exceed
    ``tombstone_ratio`` of live docs (query-side anti-join pressure) or
    the segment count exceeds ``max_groups`` (per-query group fan-out).
    Pure metadata — one tiny count against the already-open handle."""
    n_tomb = idx.get("_n_tombstones", 0)
    n_groups = idx["postings"].select("group").distinct().count()
    if n_groups > max_groups:
        return True
    if not n_tomb:
        return False
    n_docs = int(idx["corpus"].collect()[0]["n_docs"])
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
