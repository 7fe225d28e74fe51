"""Distributed inverted-index build.

Pipeline (the Spark re-expression of the reference's
ingest → chunk → embed → upsert flow, reference: services/indexer.py:65-133):

    scan(documents/web_pages)
      → tokenize (JVM codegen, functions/analyzers.py)          [no shuffle]
      → explode → groupBy(term, doc_id) count                   [shuffle 1: partial agg]
      → term/corpus stats aggs                                  [shuffle 2: tiny]
      → hot-term salting + repartition(bucket(term, salt))      [shuffle 3]
      → sortWithinPartitions(bucket, term, salt, w DESC|doc_id) [in-partition external sort]
      → row_number window → block_id; max(w) window → max_w     [JVM, no Python]
      → parquet write, one row per posting, per bucket group    [checkpoint grain]

Scale notes (100 TB / 10^12 docs):
- shuffle 1 benefits from map-side partial aggregation: rows shuffled ≈
  distinct (term, doc) pairs per map task, not token occurrences.
- shuffle 3 is THE big exchange. Hot terms (df > ratio·N) are split into
  ``salt_factor`` sub-keys keyed by hash(doc_id) so no single reducer
  owns a full stopword posting list (north_rule: explicit skew split).
  AQE skew handling remains on as the safety net.
- block assignment runs on the *sorted* partition streams: the windows
  partition by (bucket, term, salt), which the bucket repartition
  already satisfies, so they add no exchange, and Spark's spillable
  external sort does the heavy lifting. Block membership is a pure
  function of the sort order, so a rebuild writes identical rows (the
  resume contract).
- per-bucket-group writes + a manifest row after each group give
  partition-grain idempotent resume, the Spark equivalent of the
  reference's staged JobInfo progress (api/jobs.py:17-30,73-91).

One segment writer (write_segment) runs everything after the tf
relation: docs, corpus, term_stats with is_hot, forward, and per bucket
group the postings and term_bounds. Its three callers differ only in
what they feed it: build_index writes seg 0 of a fresh version from
tokenized docs (staged, resumable); add_segment writes one more segment
of the live version, plus its tombstones and negative stats deltas, and
commits it with a single 'segment' manifest row (operators/segments.py);
compact_segments writes seg 0 of v{N+1} from the live forward rows
(staged, resumable), never re-tokenizing.

Persistent layout (layout 3 — versioned, snapshot-committed; layout 2
stored delta+varint encoded blocks and must be rebuilt):

    index_dir/
      CURRENT                 tiny text file: the live version number.
                              Rewritten atomically (os.replace) — the
                              local stand-in for an Iceberg snapshot
                              commit; compaction builds v{N+1} fully,
                              then flips this pointer, so a crash at any
                              point leaves v{N} untouched and readable.
      manifest/               append-only lineage (stage, group, status,
                              rows, wall_ms, version). Readers only see
                              segments/groups with a completed manifest
                              row for the CURRENT version — a crashed
                              half-written segment is invisible.
      metrics/                per-stage telemetry (append-only).
      v{N}/
        meta.json             {"layout": 3, "analyzer", "positions",
                              "forward", "impact"}: the properties every
                              segment of the index shares (index_meta
                              writes it, meta_cfg reads it back into a
                              cfg, check_meta refuses a cfg that
                              contradicts it; compaction copies it and
                              adds "compaction_groups"). The build and
                              the query side MUST share one analyzer
                              (reference provider-selection contract,
                              embeddings/providers.py:34-104). A version
                              without meta.json is refused (read_meta).
        docs/seg=S/           doc_id, doc_len
        corpus/seg=S/         n_docs, sum_dl  (integer sums, so replace
                              deltas cancel EXACTLY on read; avgdl is
                              derived as sum(sum_dl)/sum(n_docs))
        term_stats/seg=S/     term, df, cf, is_hot  (delta rows too)
        term_bounds/group=G/  per-term block-max metadata, term-sorted:
                              max_w, n_blocks, avgdl_enc and the w_hist
                              impact ladder — the retrieval planner's
                              bounds and plan costs without scanning
                              postings (operators/query.py)
        postings/group=G/     one row per posting: term, salt, block_id,
                              max_w, avgdl_enc, doc_id, tf (+ positions
                              array<int> on a positional index), sorted
                              (term, salt, block_id, doc_id) per file, so
                              parquet row-group statistics on term skip
                              what a term predicate cannot match. Every
                              row carries its block's columns (block_id,
                              the block's max_w, avgdl_enc), so each
                              block-level predicate of the planner
                              selects postings row by row
        forward/seg=S/        doc_id, term, tf — the forward (pre-explode
                              tf) relation, range-clustered on doc_id.
                              Doc replacement computes its exact negative
                              term-stats deltas from the collided docs'
                              forward rows alone (parquet row-group
                              pruning on doc_id), never by scanning the
                              whole postings store — the reference's
                              keyed-upsert cost model (cost ∝ upserted
                              rows, storage/milvus_store.py:87-133)
        tombstones/seg=S/     doc_id, before_group — doc replace marks
                              older postings/doc rows dead; compaction
                              physically drops them
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semcode_spark.config import DEFAULT, EngineConfig
from semcode_spark.functions.analyzers import analyzer
from semcode_spark.sources.tables import local_frame


LAYOUT = 3


# ------------------------------------------------------- version pointer ----
# Storage primitives live behind the TableIO seam (sources/tableio.py):
# local parquet + CURRENT pointer here, Iceberg writeTo/MERGE/snapshot on
# a cluster — see that module's mapping table.

from semcode_spark.sources.tableio import (  # noqa: E402
    commit_current_version, read_current_version, version_dir,
)
from semcode_spark.sources import tableio as _tio  # noqa: E402


# meta.json key → IndexConfig field: the properties every segment of an
# index shares (the query side reads the analyzer and positions from here)
_PROPS = (("analyzer", "analyzer"), ("positions", "store_positions"),
          ("forward", "store_forward"), ("impact", "impact_ordered"))


def index_meta(cfg: EngineConfig) -> dict:
    """meta.json's record for an index built under ``cfg``: the layout
    and the four index properties."""
    return {"layout": LAYOUT, **{k: getattr(cfg.index, f) for k, f in _PROPS}}


def meta_cfg(meta: dict, base: EngineConfig = DEFAULT) -> EngineConfig:
    """``base`` with its index properties taken from ``meta``: how a
    mutation inherits the properties of an index it did not build."""
    return dataclasses.replace(base, index=dataclasses.replace(
        base.index, **{f: meta[k] for k, f in _PROPS}))


def check_meta(meta: dict, cfg: EngineConfig) -> None:
    """Refuse a cfg whose index properties contradict the index's: a
    segment written under another analyzer, positions, forward or
    impact setting would be misread by the query side, or silently lose
    a property the index promises (phrase hits, exact replace deltas,
    impact-ordered blocks)."""
    for k, f in _PROPS:
        if meta[k] != getattr(cfg.index, f):
            raise ValueError(
                f"index property mismatch: {k} mismatch: the index has "
                f"{k}={meta[k]!r}, the cfg says {getattr(cfg.index, f)!r} "
                f"— pass cfg=None to add_segment to inherit the index's "
                f"properties, or rebuild the index (resume=False)")


def read_meta(vdir: str) -> dict:
    """The meta.json record of a version directory. A version without
    one, or one written under another postings layout, raises
    ValueError before anything reads or extends it. Layout 2 stored each
    block's doc_ids and tfs as delta+varint bytes; layout 3 stores one
    parquet row per posting. There is no reader for the old bytes and no
    in-place migration: such an index must be rebuilt."""
    meta = _tio.read_meta(vdir)
    if not meta:
        raise ValueError(
            f"{vdir} has no meta.json, so its analyzer and layout are "
            f"unknown — rebuild the index with build_index")
    if meta.get("layout") != LAYOUT:
        raise ValueError(
            f"{vdir} holds a layout-{meta.get('layout')} index (encoded "
            f"posting blocks); this engine reads layout {LAYOUT} only (one "
            f"parquet row per posting) — rebuild the index with "
            f"build_index")
    return meta


# ---------------------------------------------------------------- stats ----

def bm25_weight(avgdl: float | Column, cfg: EngineConfig = DEFAULT,
                tf: str = "tf") -> Column:
    """BM25's per-posting weight, the idf factor aside, over the ``tf``
    (or the named) and ``doc_len`` columns: the one expression the
    build's block bounds, every query-side score and the exhaustive
    bm25_scores share (operators/blocks.bm25_w is its numpy twin).
    ``avgdl`` is a driver-side float or an in-plan column."""
    k1, b = cfg.bm25.k1, cfg.bm25.b
    return (F.col(tf) * (k1 + 1.0)) / (
        F.col(tf) + k1 * (1.0 - b + b * F.col("doc_len") / avgdl))


def doc_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              cfg: EngineConfig = DEFAULT) -> DataFrame:
    """doc_id, doc_len (token count under the configured analyzer) — the
    analog of the reference's per-chunk bookkeeping
    (chunking/tree_sitter_chunker.py:48-57)."""
    from semcode_spark.sources.tables import spread

    toks = analyzer(cfg.index.analyzer)
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(toks(text_col)).alias("doc_len"),
    )


def term_doc_tf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                cfg: EngineConfig = DEFAULT,
                with_positions: bool = False) -> DataFrame:
    """(term, doc_id, doc_len, tf[, positions]) — the exploded postings
    relation.

    explode + groupBy compiles to a hash aggregate with map-side partial
    combine; doc_len rides along (functionally dependent on doc_id) so
    the build never needs a doc-stats join. ``with_positions`` switches
    to posexplode and adds the per-(term, doc) sorted token-position
    array (collect_list buffers grow the aggregate — only paid when the
    index stores positions for phrase search)."""
    from semcode_spark.sources.tables import spread

    toks_fn = analyzer(cfg.index.analyzer)
    # spread (r6): a single-split input runs tokenize+explode+partial
    # agg — the expensive pre-shuffle stage — on one core (guide §2.5);
    # no-op when the scan already has ≥ defaultParallelism splits
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        toks_fn(text_col).alias("toks"),
    )
    if not with_positions:
        toks = base.select("doc_id", F.size("toks").alias("doc_len"),
                           F.explode("toks").alias("term"))
        return toks.groupBy("term", "doc_id", "doc_len").agg(
            F.count(F.lit(1)).alias("tf")
        )
    toks = base.select("doc_id", F.size("toks").alias("doc_len"),
                       F.posexplode("toks").alias("pos", "term"))
    return toks.groupBy("term", "doc_id", "doc_len").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def corpus_stats(dstats: DataFrame) -> DataFrame:
    return dstats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
    )


def term_stats(tf: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """term, df, cf."""
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def filter_dead_postings(flat: DataFrame, tombstones: DataFrame | None,
                         n_tombstones: int) -> DataFrame:
    """Drop postings killed by a doc replacement: a posting of doc d
    from group g is dead iff a tombstone (d, before) with g < before
    exists. No-op (no join in the plan) when the index has no
    tombstones."""
    if not n_tombstones or tombstones is None:
        return flat
    t = tombstones.select(F.col("doc_id").alias("t_id"),
                          F.col("before_group").alias("t_before"))
    return flat.join(
        t, (flat["doc_id"] == t["t_id"]) & (flat["group"] < t["t_before"]),
        "left_anti",
    )


def is_serving(idx: dict) -> bool:
    """True for a serving handle (read_index(cache=True)): its 'postings'
    are the cached live rows, with each doc's length joined on,
    hash-partitioned by doc_id."""
    return bool(idx.get("_serving"))


def _live_postings(idx: dict, pred, cols: tuple[str, ...]) -> DataFrame:
    """``cols`` of the live postings matching the block-level predicate
    ``pred`` (None: all of them). A serving handle filters its cached
    rows (tombstones already dropped); a cold handle filters the parquet
    rows (the predicate pushes down to the scan) and drops tombstoned
    postings with an anti-join."""
    src = idx["postings"] if pred is None else idx["postings"].filter(pred)
    if is_serving(idx):
        return src.select(*cols)
    return filter_dead_postings(src.select("group", *cols), idx.get("tombstones"),
                                idx.get("_n_tombstones", 0)).select(*cols)


def posting_rows(idx: dict, pred=None) -> DataFrame:
    """Live (term, group, doc_id, tf) postings of the blocks matching the
    block-level predicate ``pred`` (None: every block) — the one read
    seam of the query side. A serving handle also returns each row's
    ``doc_len``. No Python worker on either handle."""
    cols = ("term", "group", "doc_id", "tf")
    return _live_postings(idx, pred, cols + ("doc_len",) if is_serving(idx) else cols)


def posting_ids(idx: dict, pred=None) -> DataFrame:
    """(term, group, doc_id) of the blocks matching ``pred``: the
    candidate-generation twin of posting_rows. On a cold handle
    tombstoned postings are kept (no anti-join), so callers must treat
    the ids as a superset of the live ones."""
    src = idx["postings"] if pred is None else idx["postings"].filter(pred)
    return src.select("term", "group", "doc_id")


def posting_positions(idx: dict, pred=None) -> DataFrame:
    """Live (term, group, doc_id, pos) rows of a positional index, one
    per token occurrence of the term: the blocks matching ``pred`` with
    their ``positions`` arrays exploded (tombstoned postings dropped
    before the explode)."""
    if not idx.get("positions_stored"):
        raise ValueError("index stores no positions")
    rows = _live_postings(idx, pred, ("term", "group", "doc_id", "positions"))
    return rows.select("term", "group", "doc_id",
                       F.explode(F.col("positions").cast("array<bigint>")).alias("pos"))


def write_forward(tf: DataFrame, vdir: str, seg: int) -> None:
    """Persist one segment's forward relation (doc_id, term, tf
    [, positions]), range-partitioned + sorted on doc_id so a
    replace-time doc_id predicate prunes at parquet file/row-group
    granularity. One extra (narrow) shuffle per segment build — the
    price of O(changed-docs) replacement instead of a full-index
    scan. Positions (when the index stores them) ride along so
    compaction can rebuild positional postings from this table."""
    cols = ["doc_id", "term", "tf"]
    if "positions" in tf.columns:
        cols.append("positions")
    (tf.select(*cols)
     .repartitionByRange(F.col("doc_id"))
     .sortWithinPartitions("doc_id")
     .write.mode("overwrite").parquet(os.path.join(vdir, "forward", f"seg={seg}")))


def live_forward(idx: dict, with_positions: bool = False) -> DataFrame:
    """Live (doc_id, term, tf[, positions]) rows of the visible index.

    Served from the stored forward table when the index has one;
    indexes without forward/ read the same relation off the postings
    rows (one row per (term, doc), positions included). Tombstone
    semantics match the postings rule: a forward row of doc d from
    segment s is dead iff a tombstone (d, before) with s < before
    exists. ``with_positions`` keeps the positions column (compaction
    of positional indexes); default drops it so replace-delta scans
    never read those bytes.

    A serving handle answers from its cache instead: the live posting
    rows are the live forward rows, so it returns them as (doc_id,
    term, tf, doc_len), still partitioned by doc_id, with no parquet
    read and no tombstone join."""
    if is_serving(idx) and not with_positions:
        return idx["postings"].select("doc_id", "term", "tf", "doc_len")
    cols = ("doc_id", "term", "tf")
    fwd = idx.get("forward")
    if with_positions:
        if not idx.get("positions_stored") or (
                fwd is not None and "positions" not in fwd.columns):
            raise ValueError("index stores no positions")
        cols += ("positions",)
    if fwd is None:
        return _live_postings(idx, None, cols)
    t = idx.get("tombstones")
    if idx.get("_n_tombstones", 0) and t is not None:
        tt = t.select(F.col("doc_id").alias("t_id"),
                      F.col("before_group").alias("t_before"))
        fwd = fwd.join(
            tt, (fwd["doc_id"] == tt["t_id"]) & (fwd["seg"] < tt["t_before"]),
            "left_anti")
    return fwd.select(*cols)


# ---------------------------------------------------------------- build ----

def block_postings(
    tf: DataFrame,
    avgdl: float,
    hot: list[str],
    cfg: EngineConfig = DEFAULT,
    with_positions: bool = False,
    bucket_filter: tuple[int, int] | None = None,
    term_buckets: int | None = None,
) -> DataFrame:
    """tf (term, doc_id, doc_len, tf[, positions]) → the postings rows
    of the persisted layout (term, salt, block_id, max_w, avgdl_enc,
    doc_id, tf[, positions]), each carrying its block's id and max_w.
    avgdl_enc is the corpus avgdl the weights were computed with: when
    later segments shift the corpus avgdl upward, per-posting weights
    grow by at most avgdl_now/avgdl_enc, so the WAND block bound stays
    valid as max_w · max(1, avgdl_now/avgdl_enc) — see
    operators/segments.py.

    A (term, salt) run is cut into blocks of ``block_size`` postings in
    its sort order: doc_id, or on an impact-ordered index
    (cfg.index.impact_ordered) descending weight then doc_id, so block 0
    holds the run's top-weighted postings. block_id comes from a
    row_number window, the block's max_w from a max window over the
    block; both windows partition by (bucket, term, salt), which the
    bucket repartition already satisfies, so they add no exchange. The
    output is sorted (term, salt, block_id, doc_id) within each bucket.

    The single wide shuffle of the build: repartition by
    hash(term, salt) % term_buckets with hot-term salting.

    ``bucket_filter=(groups, g)`` restricts the output to buckets with
    pmod(bucket, groups) == g — applied BEFORE the repartition, so a
    grouped (checkpointed) build shuffles and sorts each posting exactly
    once across all group jobs instead of processing the whole relation
    per group and discarding (groups-1)/groups of it.

    ``term_buckets`` overrides the config fan-out — bucket ids are
    group-local (queries never assume a global bucket count), so a
    small incremental segment can use a small fan-out instead of
    cfg-many near-empty shuffle partitions.
    """
    sf = cfg.index.salt_factor
    n_buckets = term_buckets if term_buckets is not None else cfg.index.term_buckets
    salted = tf.withColumn(
        "salt",
        F.when(
            F.col("term").isin(hot) if hot else F.lit(False),
            F.pmod(F.xxhash64("doc_id"), F.lit(sf)).cast("int"),
        ).otherwise(F.lit(0)),
    ).withColumn("w", bm25_weight(avgdl, cfg).cast("double"))
    bucketed = salted.withColumn(
        "bucket", F.pmod(F.xxhash64("term", "salt"), F.lit(n_buckets)).cast("int")
    )
    if bucket_filter is not None:
        n_groups, g = bucket_filter
        bucketed = bucketed.filter(
            F.pmod(F.col("bucket"), F.lit(n_groups)) == g)
    run = ("bucket", "term", "salt")
    order = (F.col("w").desc(), "doc_id") if cfg.index.impact_ordered else ("doc_id",)
    rank = F.row_number().over(Window.partitionBy(*run).orderBy(*order))
    blocked = (
        bucketed.repartition(n_buckets, "bucket")
        .sortWithinPartitions(*run, *order)
        .withColumn("block_id", F.floor((rank - 1) / cfg.index.block_size).cast("int"))
        .sortWithinPartitions(*run, "block_id", "doc_id")
    )
    max_w = F.max("w").over(Window.partitionBy(*run, "block_id"))
    return blocked.select(
        "term", "salt", "block_id", max_w.alias("max_w"),
        F.lit(float(avgdl)).alias("avgdl_enc"), "doc_id", "tf",
        *(["positions"] if with_positions else []))


def write_term_bounds(spark: SparkSession, vdir: str, group: int) -> int:
    """Derive per-term block-max metadata for one written postings group.
    The retrieval planner reads this tiny table instead of scanning
    postings (operators/query.py). Counts are of BLOCKS, not rows: the
    group's rows first collapse to one row per (term, salt, block_id) —
    a map-side partial aggregate, since each file is sorted that way —
    and only block rows are shuffled. Rows are written term-sorted:
    sorted term runs compress better (the parquet dictionary and
    run-length encodings). Returns the group's block count from the
    same cached pass — the parquet is read once, never re-scanned for
    the count.

    ``w_hist`` (r5): per term, the block max_w values at power-of-two
    ranks of the descending-max_w block order — the impact-prefix
    ladder impact retrieval plans against (decode the top r blocks ⇒
    every undecoded block has max_w < w_hist[r]). ~log2(n_blocks)
    entries per term, so the term dictionary stays driver-collectable.
    The ladder's window and the per-term aggregate share one exchange.
    (A denser ladder — pow2 plus 1.5× midpoints — was measured on the
    45k-block crossover corpus: decode fraction 0.591 vs 0.586, i.e.
    no benefit; the fraction is bound by the plan's θ constraint, not
    ladder granularity, so the smaller metadata wins.)"""
    rows = spark.read.parquet(os.path.join(vdir, "postings", f"group={group}"))
    blocks = rows.groupBy("term", "salt", "block_id").agg(
        F.max("max_w").alias("max_w"), F.max("avgdl_enc").alias("avgdl_enc"))
    r = F.row_number().over(Window.partitionBy("term").orderBy(
        F.col("max_w").desc(), "salt", "block_id"))
    tb = blocks.withColumn("r", r).groupBy("term").agg(
        F.max("max_w").alias("max_w"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("avgdl_enc").alias("avgdl_enc"),
        F.sort_array(F.collect_list(F.when(  # r = 2^j
            F.col("r").bitwiseAND(F.col("r") - 1) == 0,
            F.struct(F.col("r").alias("rank"), F.col("max_w").alias("w")))))
        .alias("w_hist"),
    ).persist()
    try:
        tb.sortWithinPartitions("term").write.mode("overwrite").parquet(
            os.path.join(vdir, "term_bounds", f"group={group}"))
        row = tb.agg(F.sum("n_blocks").alias("n")).collect()[0]
    finally:
        tb.unpersist()
    return int(row["n"] or 0)


def doc_lengths(docs: DataFrame, tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, doc_len) of ``docs``, read off their tf relation (doc_len
    is functionally dependent on doc_id there), so a write tokenizes its
    input once: a second doc_stats pass over 100 TB of text is pure
    waste. Docs with zero tokens fall out of tf; the left join against
    the id spine restores them with doc_len 0."""
    dl = tf.groupBy("doc_id").agg(F.first("doc_len").alias("doc_len"))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(dl, "doc_id", "left")
            .select("doc_id", F.coalesce("doc_len", F.lit(0)).alias("doc_len")))


def corpus_sums(docs: DataFrame, *extra: Column):
    """The driver row (n_docs, sum_dl, *extra) of a (persisted) docs
    frame. The corpus table stores these integer sums, NOT an average:
    sums merge and cancel exactly across segments and replace deltas,
    while an n·avg reconstruction is off by ulps (doc replacement
    demands exact stats)."""
    return docs.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("doc_len").cast("double").alias("sum_dl"),
                    *extra).collect()[0]


def write_segment(
    spark: SparkSession,
    out_dir: str,
    version: int,
    cfg: EngineConfig,
    tf: DataFrame,
    docs: DataFrame,
    corpus: list[tuple[int, float]],
    ts: DataFrame,
    *,
    seg: int = 0,
    groups: int = 1,
    term_buckets: int | None = None,
    done: set[str] | None = None,
    metrics: list | None = None,
    fail_after_group: int | None = None,
    op: str = "build",
    block=block_postings,
) -> list[str]:
    """Write segment ``seg`` of version ``version``: the one write path
    of build_index, add_segment and compact_segments.

    - ``docs`` (doc_id, doc_len) → docs/seg=S;
    - ``corpus`` [(n_docs, sum_dl), delta rows...] → corpus/seg=S; the
      first row is the segment's own, and its avgdl weights the postings;
    - ``ts`` (term, df, cf; delta rows too) flagged with is_hot (df
      above max(2, hot_term_df_ratio · the segment's n_docs)) →
      term_stats/seg=S;
    - the tf relation's (doc_id, term, tf[, positions]) → forward/seg=S
      while the index stores forward;
    - per bucket group, block_postings' rows → postings/group=G and their
      term_bounds. Bucket group i of ``groups`` gets group id seg + i;
      ``term_buckets`` is block_postings' bucket fan-out.

    ``done=None`` writes one unstaged segment: add_segment's, which
    commits its single 'segment' visibility row itself. A set makes the
    write staged and resumable (build_index, compact_segments): a 'stats'
    manifest row after the stats tables, a 'postings' row per group, and
    every stage already in ``done`` is skipped ('forward' in done: the
    caller wrote the forward table). ``metrics`` collects (stage, rows,
    wall_ms) per staged stage. ``fail_after_group`` injects a crash,
    naming ``op``, after a group commits. ``block`` makes the postings
    rows (compaction passes its own module's binding, which a crash
    test replaces). Returns the hot terms."""
    t0 = time.time()
    vdir = version_dir(out_dir, version)
    man_dir = os.path.join(out_dir, "manifest")
    staged, done = done is not None, done or set()
    n_docs, sum_dl = corpus[0]

    def commit(stage: str, group: int, rows: int, since: float, name: str) -> None:
        _manifest_append(spark, man_dir, stage, group, "completed", rows,
                         time.time() - since, version)
        if metrics is not None:
            metrics.append((name, int(rows), int((time.time() - since) * 1000)))

    def seg_dir(table: str) -> str:
        return os.path.join(vdir, table, f"seg={seg}")

    if "stats" in done:
        hot = [r["term"] for r in spark.read.parquet(seg_dir("term_stats"))
               .filter(F.col("is_hot")).select("term").collect()]
    else:
        docs.write.mode("overwrite").parquet(seg_dir("docs"))
        local_frame(spark, corpus, "n_docs long, sum_dl double").write.mode(
            "overwrite").parquet(seg_dir("corpus"))
        # hot terms: df above the skew threshold, salted across
        # salt_factor sub-keys in block_postings. The set is tiny by
        # definition (stopword-scale), so it is driver-collected; delta
        # rows (negative df) are never hot
        thr = max(2.0, cfg.index.hot_term_df_ratio * n_docs)
        flagged = ts.select("term", "df", "cf").withColumn(
            "is_hot", F.col("df") > thr).persist()
        try:
            flagged.write.mode("overwrite").parquet(seg_dir("term_stats"))
            hot = [r["term"] for r in flagged.filter(F.col("is_hot"))
                   .select("term").collect()]
        finally:
            flagged.unpersist()
        # forward is an all-or-nothing index property: when a later
        # segment finds the table gone (a pruned snapshot), its rows
        # alone would make the next replace's deltas silently partial,
        # so it stays forward-less
        if (cfg.index.store_forward and "forward" not in done
                and (seg == 0 or os.path.isdir(os.path.join(vdir, "forward")))):
            write_forward(tf, vdir, seg)
        if staged:
            commit("stats", -1, n_docs, t0, "stats")

    for i in range(groups):
        g = seg + i
        if f"group={g}" in done:
            continue
        tg = time.time()
        # the bucket restriction is applied BEFORE the shuffle
        # (block_postings), so each posting is shuffled and sorted once
        # across a grouped write
        part = block(tf, sum_dl / n_docs, hot, cfg,
                     with_positions=cfg.index.store_positions,
                     bucket_filter=(groups, i) if groups > 1 else None,
                     term_buckets=term_buckets)
        part.write.mode("overwrite").parquet(
            os.path.join(vdir, "postings", f"group={g}"))
        # bounds derivation runs before the manifest row and yields the
        # group's block count for free
        rows = write_term_bounds(spark, vdir, g)
        if staged:
            commit("postings", g, rows, tg, f"postings/g{g}")
        if fail_after_group is not None and g >= fail_after_group:
            raise RuntimeError(f"injected failure after {op} group {g}")
    return hot


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig = DEFAULT,
    groups: int = 4,
    resume: bool = False,
    fail_after_group: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Build (or resume) the full index under out_dir (layout 3 above).
    A full rebuild (resume=False) is also how a layout-2 index moves to
    layout 3: it lands in a fresh version directory.

    ``groups`` is the checkpoint grain: each group is one idempotent
    Spark job + one manifest append; a rerun with resume=True skips
    completed groups exactly (reference resume contract:
    api/main.py:246-325). ``fail_after_group`` injects a crash for the
    resume test. Returns summary dict. Single-writer (lease-guarded)
    like every index mutation.
    """
    check_layout(spark, out_dir)
    lease = _tio.acquire_lease(out_dir, "build_index")
    try:
        return _build_index_locked(
            spark, docs, out_dir, cfg, groups, resume, fail_after_group,
            id_col, text_col)
    finally:
        _tio.release_lease(lease)


def _build_index_locked(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig,
    groups: int,
    resume: bool,
    fail_after_group: int | None,
    id_col: str,
    text_col: str,
) -> dict:
    t_all = time.time()
    man_dir = os.path.join(out_dir, "manifest")
    version = read_current_version(out_dir)
    rebuild_commit = False
    if version is None:
        version = 0
        _tio.write_meta(version_dir(out_dir, version), index_meta(cfg))
        commit_current_version(out_dir, version)
    elif resume:
        # resumed groups must share the index's layout and properties
        check_meta(read_meta(version_dir(out_dir, version)), cfg)
    else:
        if _completed(spark, man_dir, version):
            # full rebuild over a non-empty index: NEVER into the live
            # version dir — its committed segment rows (prior add_segment
            # calls) would stay visible and merge stale postings /
            # double-counted stats into the rebuilt seg=0. Like
            # compaction, build v{N+1} and flip CURRENT only on success;
            # the old snapshot stays live (and readable) until then, and
            # a crashed rebuild leaves an orphan dir for gc_versions, not
            # a corrupt index. The target is the next FREE version — not
            # CURRENT+1 unconditionally: a prior crashed rebuild left
            # completed manifest rows (and possibly dirs) for v{N+1}, and
            # building into the same version would union its stale
            # groups into the served index (r4 ADVICE #1).
            version = _next_free_version(spark, out_dir, version)
            rebuild_commit = True
        # a fresh version, or a live one with nothing committed: (re-)label it
        _tio.write_meta(version_dir(out_dir, version), index_meta(cfg))
    done = (_verify_done(version_dir(out_dir, version),
                         _completed(spark, man_dir, version))
            if resume else set())
    metrics: list[tuple] = []

    # docs is scanned twice (the id spine + tf); if it is a derived plan
    # (e.g. html extraction), persist it for the duration of the build
    docs = docs.persist()
    tf = term_doc_tf(docs, id_col, text_col, cfg,
                     with_positions=cfg.index.store_positions).persist()
    ds = doc_lengths(docs, tf, id_col).persist()
    try:
        cs = corpus_sums(ds)
        n_docs = int(cs["n_docs"])
        if not n_docs:
            raise ValueError("cannot build an index over an empty corpus")
        corpus = [(n_docs, float(cs["sum_dl"]))]
        hot = write_segment(spark, out_dir, version, cfg, tf, ds, corpus,
                            term_stats(tf, cfg), groups=groups, done=done,
                            metrics=metrics, fail_after_group=fail_after_group)
    finally:
        ds.unpersist()
        tf.unpersist()
        docs.unpersist()
        if metrics:
            local_frame(
                spark, metrics, "stage string, rows long, wall_ms long"
            ).write.mode("append").parquet(os.path.join(out_dir, "metrics"))

    if rebuild_commit:
        commit_current_version(out_dir, version)  # snapshot flip
    wall = time.time() - t_all
    return {"n_docs": n_docs, "avgdl": corpus[0][1] / n_docs, "hot_terms": len(hot),
            "groups": groups, "wall_s": wall, "docs_per_sec": n_docs / wall,
            "version": version}


def consolidate_small_files(spark: SparkSession, table_dir: str,
                            keep_threshold: int = 4) -> int:
    """Rewrite an append-only metadata table (manifest/, metrics/ — one
    tiny parquet file per committed stage) into a single file. At 10^5
    groups the per-commit files are real small-file pressure; the data
    itself is tiny. Rows are preserved verbatim (all versions — the
    manifest doubles as an audit log). Caller must hold the writer
    lease; in-flight readers that listed the directory before the swap
    may see a transient miss locally — the Iceberg TableIO mapping gets
    this for free from snapshot isolation (rewrite_manifests).
    Returns the resulting file count."""
    if not os.path.isdir(table_dir):
        return 0
    old = [f for f in os.listdir(table_dir)
           if not f.startswith((".", "_")) and f != "consolidated"]
    if len(old) <= keep_threshold:
        return len(old)
    df = spark.read.parquet(table_dir)
    tmp = table_dir.rstrip("/") + "__tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    import shutil as _sh
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:8]
    n_new = 0
    for f in os.listdir(tmp):
        if f.startswith("part-"):
            os.replace(os.path.join(tmp, f),
                       os.path.join(table_dir, f"consolidated-{tag}-{f}"))
            n_new += 1
    for f in old:
        try:
            os.unlink(os.path.join(table_dir, f))
        except (FileNotFoundError, IsADirectoryError):
            pass
    _sh.rmtree(tmp, ignore_errors=True)
    return n_new


def _manifest_append(
    spark: SparkSession, man_dir: str, stage: str, group: int,
    status: str, rows: int, wall_s: float, version: int,
) -> None:
    local_frame(
        spark,
        [(stage, group, status, int(rows), int(wall_s * 1000), int(version))],
        "stage string, group int, status string, rows long, wall_ms long, version int",
    ).write.mode("append").parquet(man_dir)


def _next_free_version(spark: SparkSession, out_dir: str, current: int) -> int:
    """Smallest version number no prior run (committed, crashed, or
    gc'd) has touched: 1 + max(CURRENT, every v* dir on disk, every
    version in the manifest). The manifest is append-only, so a crashed
    rebuild's 'completed' rows persist even after gc_versions removes
    its dir — reusing that version would make _visible union the stale
    rows into the fresh build (duplicate postings / double-counted
    stats). Both rebuild (here) and resume=False compaction
    (operators/segments.py) allocate through this."""
    import re

    vmax = current
    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            m = re.fullmatch(r"v(\d+)", name)
            if m:
                vmax = max(vmax, int(m.group(1)))
    man_dir = os.path.join(out_dir, "manifest")
    if os.path.isdir(man_dir) and any(
            not f.startswith((".", "_")) for f in os.listdir(man_dir)):
        row = spark.read.parquet(man_dir).agg(
            F.max("version").alias("m")).collect()[0]
        if row["m"] is not None:
            vmax = max(vmax, int(row["m"]))
    return vmax + 1


def _verify_done(vdir: str, done: set[str]) -> set[str]:
    """Cross-check 'completed' manifest markers against the data on
    disk. The manifest is append-only, so gc_versions removing an
    aborted partial version leaves its completed rows behind; a later
    resume that trusted those rows would skip rewriting stages whose
    data no longer exists and commit an empty version (the
    resume-after-gc data-loss path). Markers whose directories are
    missing are dropped, so resume simply re-runs those stages —
    idempotent overwrites make that safe."""
    ok: set[str] = set()
    for key in done:
        if key == "stats":
            if all(os.path.isdir(os.path.join(vdir, d, "seg=0"))
                   for d in ("docs", "corpus", "term_stats")):
                ok.add(key)
        elif key == "forward":  # compaction's consolidated-forward stage
            if os.path.isdir(os.path.join(vdir, "forward", "seg=0")):
                ok.add(key)
        elif key.startswith("group="):
            g = key.split("=", 1)[1]
            if (os.path.isdir(os.path.join(vdir, "postings", f"group={g}"))
                    and os.path.isdir(os.path.join(vdir, "term_bounds", f"group={g}"))):
                ok.add(key)
        else:
            ok.add(key)
    return ok


def check_layout(spark: SparkSession, index_dir: str) -> None:
    """Reject pre-layout-2 (unversioned) index directories BEFORE any
    mutation; versioned ones of another layout are read_meta's.

    A legacy dir (data but no CURRENT pointer, or a manifest without the
    'version' column) must not be half-converted: committing CURRENT=0
    into it and then failing on the legacy manifest schema would leave
    it in a state neither layout can read. Raise a clear error instead;
    old indexes must be rebuilt."""
    if read_current_version(index_dir) is not None:
        return
    if not os.path.isdir(index_dir):
        return
    legacy_data = [d for d in ("postings", "docs", "term_stats", "corpus")
                   if os.path.isdir(os.path.join(index_dir, d))]
    man_dir = os.path.join(index_dir, "manifest")
    man_cols: list[str] | None = None
    if os.path.isdir(man_dir):
        try:
            man_cols = spark.read.parquet(man_dir).columns
        except Exception:
            man_cols = None
    if legacy_data or (man_cols is not None and "version" not in man_cols):
        raise ValueError(
            f"{index_dir} holds a pre-versioned (layout < 2) index "
            f"(data dirs {legacy_data or ['manifest']} with no CURRENT "
            f"pointer{' / no version column' if man_cols is not None and 'version' not in man_cols else ''}) "
            f"— no in-place migration path; rebuild the index")


def _manifest_rows(spark: SparkSession, man_dir: str, version: int) -> list:
    """Completed manifest rows for a version, read with a short retry.

    Distinguishes 'no manifest yet' (legit empty — []) from a TRANSIENT
    miss during consolidation's swap (r3 advice #4): the swap lands the
    consolidated file BEFORE unlinking the old per-commit files, so
    rows are never absent — but a reader that listed the directory just
    before the unlinks can fail mid-scan with FileNotFound. The read +
    collect runs inside the retry (a lazy handle could still fail at
    collect time); a retry re-lists and sees the consolidated file.
    Duplicated rows during the window are harmless — every consumer
    reduces via set/max semantics. [] only when the read reports the
    manifest path itself missing; any other failure is retried, then
    raised."""
    import time as _t

    from pyspark.errors import AnalysisException

    for attempt in range(3):
        try:
            return _read_manifest(spark, man_dir, version)
        except Exception as e:
            # the path itself is absent — not a file vanishing mid-scan
            if isinstance(e, AnalysisException) and e.getCondition() == "PATH_NOT_FOUND":
                return []
            if attempt == 2:
                raise
            _t.sleep(0.1 * (attempt + 1))
    return []


def _read_manifest(spark: SparkSession, man_dir: str, version: int) -> list:
    """One manifest read. r6: the manifest is tiny catalog metadata —
    read it DRIVER-SIDE with pyarrow (the Iceberg manifest pattern)
    instead of paying a Spark job per index open (a cold index query
    was burning one of its ~3 driver jobs here). pyarrow's dataset
    reader skips `_`/`.` files like Spark's committer artifacts. Any
    pyarrow failure — a missing directory, or a remote filesystem
    (s3://, hdfs://) pyarrow cannot reach — falls back to the Spark
    read, which reaches whatever Spark's Hadoop filesystems do. An
    empty local directory reads as no rows. Consumers access rows by
    key only, so plain dicts substitute for Rows."""
    try:
        import pyarrow.parquet as _pq

        tbl = _pq.read_table(man_dir)
        return [r for r in tbl.to_pylist()
                if r.get("status") == "completed"
                and r.get("version") == version]
    except Exception:
        return spark.read.parquet(man_dir).filter(
            (F.col("status") == "completed")
            & (F.col("version") == version)).collect()


def _completed(spark: SparkSession, man_dir: str, version: int) -> set[str]:
    out: set[str] = set()
    rows = _manifest_rows(spark, man_dir, version)
    for r in rows:
        if r["stage"] in ("stats", "forward"):
            out.add(r["stage"])
        elif r["stage"] in ("postings", "segment"):
            # only data-bearing stages map to groups — a 'compaction'
            # observability row must never mark group=<version> done
            out.add(f"group={r['group']}")
    return out


def _visible(spark: SparkSession, out_dir: str, version: int) -> tuple[set[int], set[int]]:
    """(visible segment ids, visible postings groups) for a version —
    only stages with a completed manifest row count, so a crashed
    half-written add_segment is invisible to every reader."""
    rows = _manifest_rows(spark, os.path.join(out_dir, "manifest"), version)
    segs: set[int] = set()
    groups: set[int] = set()
    for r in rows:
        if r["stage"] == "stats":
            segs.add(0)
        elif r["stage"] == "postings":
            groups.add(int(r["group"]))
        elif r["stage"] == "segment":
            segs.add(int(r["group"]))
            groups.add(int(r["group"]))
    return segs, groups


def _empty_tombstones(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [], "doc_id long, before_group int")


def collect_term_dict(index: dict, max_rows: int = 2_000_000,
                      hist_max_rows: int = 500_000) -> None:
    """Serving-mode accelerator: pull the full term dictionary
    (term_stats ⋈ term_bounds — df + per-group block bounds) to the
    driver when it fits (``max_rows`` guards web-scale vocabularies:
    beyond it, queries fall back to per-query metadata lookups with
    memoization, operators/query._term_meta). The frontend-resident
    term-dictionary design of classic search engines: postings stay on
    executors, the tiny per-term metadata doesn't deserve a Spark job
    per query. Sets index['_term_dict']: term → [bound rows].

    ``hist_max_rows`` (r6, measured): the per-term ``w_hist``
    impact-prefix ladders dominate dictionary memory — ~4.8 GB of
    driver heap at the 2M-row cap vs ~1.0 GB without them (tracemalloc
    of 200k shaped rows ×10). Past this budget the dictionary is
    collected WITHOUT w_hist: impact planning degrades gracefully to
    MaxScore term-level skip/full endpoints (_impact_plan's ladder
    keeps its two endpoint rungs; prefix cuts need the histogram), and
    correctness is untouched — every bound is still predicate-based."""
    n_terms = index["term_stats"].count()
    if n_terms > max_rows:
        return
    tb = index["term_bounds"]
    if n_terms > hist_max_rows and "w_hist" in tb.columns:
        tb = tb.drop("w_hist")
    rows = tb.join(
        index["term_stats"].select("term", "df"), "term").collect()
    d: dict[str, list] = {}
    for r in rows:
        d.setdefault(r["term"], []).append(r)
    index["_term_dict"] = d


def _open_table(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the schema derived DRIVER-SIDE (r6):
    every schema-less parquet read pays a footer-inference Spark job,
    and read_index opens six tables — six jobs before the first query
    touches data. The data schema comes from ONE footer via pyarrow;
    hive-style partition columns (seg=/group=, always small ints in
    this layout) are appended from the directory names. Falls back to
    plain inference on any surprise (remote FS, exotic types)."""
    try:
        import pyarrow.parquet as _pq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import IntegerType, StructField, StructType

        first, parts = None, []
        for dp, dns, fns in os.walk(path):
            dns.sort()
            for fn in sorted(fns):
                if not fn.startswith((".", "_")) and fn.endswith(".parquet"):
                    first = os.path.join(dp, fn)
                    rel = os.path.relpath(dp, path)
                    parts = [seg.split("=", 1)[0] for seg in rel.split(os.sep)
                             if "=" in seg]
                    break
            if first:
                break
        if first is None:
            raise FileNotFoundError(path)
        fields = list(from_arrow_schema(_pq.read_schema(first)).fields)
        fields += [StructField(p, IntegerType(), True) for p in parts]
        return spark.read.schema(StructType(fields)).parquet(path)
    except Exception:
        return spark.read.parquet(path)


def _footer_rows(path: str, part: str, values: list[int]) -> int | None:
    """Row count of the parquet files under ``path/<part>=<v>/`` for v
    in ``values``, summed from the file footers on the driver (pyarrow,
    like _read_manifest) instead of a Spark count job. Reads the same
    files Spark would: every file not starting with '.' or '_'. None
    when a footer cannot be read, so the caller can fall back to
    counting with Spark."""
    try:
        import pyarrow.parquet as _pq

        n = 0
        for v in values:
            for dp, dns, fns in os.walk(os.path.join(path, f"{part}={v}")):
                dns[:] = [d for d in dns if not d.startswith((".", "_"))]
                n += sum(_pq.read_metadata(os.path.join(dp, fn)).num_rows
                         for fn in fns if not fn.startswith((".", "_")))
        return n
    except (ImportError, OSError, ValueError):  # pyarrow's errors subclass these
        return None


def read_index(spark: SparkSession, out_dir: str, cache: bool = False,
               term_dict_max: int = 2_000_000) -> dict[str, DataFrame]:
    """Open the CURRENT snapshot of an index.

    Stats tables are append-only across incremental segments
    (operators/segments.py) and may carry negative delta rows from doc
    replacement, so they aggregate on read: df/cf sum per term; corpus
    stats merge weighted by n_docs — both cancel deltas exactly. Docs
    rows killed by a tombstone (seg < before_group) are filtered here;
    postings-level tombstone filtering happens in the read seam
    (posting_rows) because it needs the posting's group. An index of
    another layout, or a version without meta.json, raises ValueError
    (read_meta).

    cache=True is serving mode (the analog of the reference's long-lived
    service process with Milvus's collection loaded to memory,
    storage/milvus_store.py:83-85): docs/term_stats/term_bounds are
    persisted and materialized, and so are the live postings rows:
    'postings' then holds (term, group, salt, block_id, max_w,
    avgdl_enc, doc_id, tf, doc_len[, positions]) — tombstoned postings
    dropped, each doc's length joined on — hash-partitioned by doc_id
    into the session's shuffle partitions. The open is one JVM pass
    (scan, anti-join, join, exchange); warm queries filter the cached
    rows with the same block-level predicates, run no Python worker
    (posting_rows), and aggregate per doc with no exchange. Release the
    cache with unpersist() on docs, term_stats, term_bounds and
    postings. On a cluster this is executor block-manager memory."""
    version = read_current_version(out_dir)
    if version is None:
        raise FileNotFoundError(f"no CURRENT pointer under {out_dir}")
    vdir = version_dir(out_dir, version)
    meta = read_meta(vdir)
    segs, groups = _visible(spark, out_dir, version)
    seg_list, group_list = sorted(segs), sorted(groups)

    # a few rows per segment, read as one partition: the global sums
    # then need no exchange, so collecting the corpus row is one job
    corpus_raw = _open_table(spark, os.path.join(vdir, "corpus")).filter(
        F.col("seg").isin(seg_list)).coalesce(1)
    corpus = corpus_raw.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    term_stats_raw = _open_table(spark, os.path.join(vdir, "term_stats")).filter(
        F.col("seg").isin(seg_list))
    term_stats_agg = term_stats_raw.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf"),
        F.max("is_hot").alias("is_hot"),  # salted in ≥1 segment
    ).filter(F.col("df") > 0)  # fully-replaced terms cancel to zero

    tomb_dir = os.path.join(vdir, "tombstones")
    if os.path.isdir(tomb_dir):
        tombstones = _open_table(spark, tomb_dir).filter(
            F.col("seg").isin(seg_list)).select("doc_id", "before_group")
        n_tomb = _footer_rows(tomb_dir, "seg", seg_list)
        if n_tomb is None:
            n_tomb = tombstones.count()
    else:
        tombstones, n_tomb = _empty_tombstones(spark), 0

    docs_raw = _open_table(spark, os.path.join(vdir, "docs")).filter(
        F.col("seg").isin(seg_list))
    if n_tomb:
        t = tombstones.select(F.col("doc_id").alias("t_id"),
                              F.col("before_group").alias("t_before"))
        docs_live = docs_raw.join(
            t, (docs_raw["doc_id"] == t["t_id"]) & (docs_raw["seg"] < t["t_before"]),
            "left_anti",
        )
    else:
        docs_live = docs_raw

    fwd_dir = os.path.join(vdir, "forward")
    forward = (_open_table(spark, fwd_dir).filter(F.col("seg").isin(seg_list))
               if os.path.isdir(fwd_dir) else None)

    idx: dict = {
        "docs": docs_live.select("doc_id", "doc_len"),
        "forward": forward,
        "corpus": corpus,
        "term_stats": term_stats_agg,
        "term_bounds": _open_table(spark, os.path.join(vdir, "term_bounds")).filter(
            F.col("group").isin(group_list)),
        "postings": _open_table(spark, os.path.join(vdir, "postings")).filter(
            F.col("group").isin(group_list)),
        "tombstones": tombstones,
        "analyzer": meta["analyzer"],
        "positions_stored": meta["positions"],
        "impact_layout": meta["impact"],
        "_meta": meta,
        "_groups": group_list,
        "_n_tombstones": n_tomb,
        "_dir": out_dir,
        "_version": version,
    }
    if cache:
        idx["_serving"] = True
        keep = ["term", "group", "salt", "block_id", "max_w", "avgdl_enc",
                "doc_id", "tf"] + (["positions"] if idx["positions_stored"] else [])
        live = filter_dead_postings(idx["postings"].select(*keep), tombstones, n_tomb)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        idx["postings"] = live.join(idx["docs"], "doc_id").repartition(
            n_parts, "doc_id")
        for name in ("docs", "term_stats", "term_bounds", "postings"):
            idx[name] = idx[name].persist()
            idx[name].count()  # materialize now, not on first query
        idx["_corpus_row"] = idx["corpus"].collect()[0]
        collect_term_dict(idx, term_dict_max)
    return idx
