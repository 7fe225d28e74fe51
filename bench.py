"""Headline benchmark — one JSON line on stdout.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may run on):

- index build throughput over the documents table AND over a larger
  synthetic webtext corpus (the north-rule metric: docs/sec indexed).
  The session is warmed with a tiny throwaway build first: JVM/Python-
  worker/committer cold start is a one-time cost that amortizes to zero
  at 10^12 docs, so steady-state throughput is the honest number (the
  cold wall is still reported as *_cold_sec).
- doc-replacement latency (1% re-crawl of the 50k-doc webtext index —
  the forward-index O(changed-docs) path) and compaction: query latency
  with ~16% tombstones, compaction wall, query latency after.
- query latencies for the headline operator set (BM25 exhaustive, WAND
  over the block index, TPC-H-ish joins/aggs, MinHash LSH dedup, cosine
  ANN), warm serving-mode WAND, and the batched 24-query path (flat).
- ANN recall@10 vs brute force for the corpus-tuned LSH defaults and
  IVF (recall recorded every round so regressions are visible).
- a packaged spark-submit --py-files run in a FRESH JVM querying the
  built index (keeps the north-rule packaging path measured, not just
  smoke-tested).

Output: {"metric": ..., "value": <sum of headline query secs>,
"unit": "sec", "queries": {...}, "sf": ..., plus throughput extras}.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

from semcode_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_webtext = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "50000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("semcode-bench")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(spark.sparkContext.defaultParallelism, 16)))

    import __spark_entry__ as entry
    from semcode_spark.operators.index_build import build_index, read_index
    from semcode_spark.operators.query import wand_topk
    from semcode_spark.operators.segments import add_segment, compact_segments
    from semcode_spark.sources.webpages import synth_web_pages
    from semcode_spark.functions.extract import extract_text
    import pyspark.sql.functions as F

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)

    # ---- session warm-up (cold wall recorded, then excluded from the
    # throughput metric: python workers / codegen / committers start once
    # per cluster, not once per 10^12 docs) ----
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    t0 = time.time()
    warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    build_index(spark, docs.limit(200), warm_dir, groups=1)
    extras["session_warmup_cold_sec"] = round(time.time() - t0, 3)
    shutil.rmtree(warm_dir, ignore_errors=True)

    # ---- index build throughput: documents table (warm session,
    # best-of-2: run-to-run wall variance on this box is ±30-40%) ----
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    build_s = None
    for trial_dir in (tempfile.mkdtemp(prefix="bench_idx_t0_"), idx_dir):
        t0 = time.time()
        build_index(spark, docs, trial_dir, groups=1)
        w = time.time() - t0
        build_s = w if build_s is None else min(build_s, w)
        if trial_dir != idx_dir:
            shutil.rmtree(trial_dir, ignore_errors=True)
    extras["index_build_docs_per_sec"] = round(n_docs / build_s, 1)
    extras["index_build_sec"] = round(build_s, 3)

    # ---- positional build + index-backed phrase latency ----
    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.operators.query import phrase_match, phrase_topk
    pos_dir = tempfile.mkdtemp(prefix="bench_posidx_")
    pos_cfg = EngineConfig(bm25=BM25Config(),
                           index=IndexConfig(store_positions=True))
    t0 = time.time()
    build_index(spark, docs, pos_dir, cfg=pos_cfg, groups=1)
    extras["index_build_positions_docs_per_sec"] = round(
        n_docs / (time.time() - t0), 1)
    pidx = read_index(spark, pos_dir)
    t0 = time.time()
    phrase_match(spark, pidx, "table scan").count()
    extras["phrase_match_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    phrase_topk(spark, pidx, "table scan", k=10).collect()
    extras["phrase_topk_sec"] = round(time.time() - t0, 3)
    # batched phrase retrieval (r4 verdict item 5): the whole phrase set
    # in ONE positional-decode job; parity vs singles is pytest-pinned
    from semcode_spark.operators.query import phrase_topk_batch
    phrases = [(i, p, 10) for i, p in enumerate(
        ["table scan", "query plan", "the data", "merge window",
         "sort batch", "index data", "slow value", "spark query"])]
    t0 = time.time()
    extras["phrase_batch_hits"] = phrase_topk_batch(
        spark, pidx, phrases).count()
    pb_s = time.time() - t0
    extras["phrase_batch_8q_sec"] = round(pb_s, 3)
    extras["phrase_batch_sec_per_query"] = round(pb_s / len(phrases), 4)
    shutil.rmtree(pos_dir, ignore_errors=True)

    # ---- index build throughput: synthetic webtext (html → text → index) ----
    web_dir = tempfile.mkdtemp(prefix="bench_web_")
    pages = synth_web_pages(spark, n_webtext)
    pages.write.mode("overwrite").parquet(os.path.join(web_dir, "pages"))
    raw = spark.read.parquet(os.path.join(web_dir, "pages"))
    t0 = time.time()
    extracted = raw.select(
        F.xxhash64("url").alias("doc_id"),
        extract_text(F.col("html")).alias("text"),
    )
    web_idx = os.path.join(web_dir, "idx")
    build_index(spark, extracted, web_idx, groups=1)
    web_s = time.time() - t0
    extras["webtext_docs"] = n_webtext
    extras["webtext_index_docs_per_sec"] = round(n_webtext / web_s, 1)
    extras["webtext_index_sec"] = round(web_s, 3)

    # same corpus WITHOUT the forward table (append-only profile —
    # store_forward=False; the r3 verdict #4 cost knob): both numbers
    # recorded so the ~20% forward-write overhead is visible, priced,
    # and optional rather than silently imposed
    nf_cfg = EngineConfig(bm25=BM25Config(),
                          index=IndexConfig(store_forward=False))
    nf_dir = tempfile.mkdtemp(prefix="bench_web_nf_")
    t0 = time.time()
    build_index(spark, extracted, os.path.join(nf_dir, "idx"),
                cfg=nf_cfg, groups=1)
    nf_s = time.time() - t0
    extras["webtext_index_noforward_docs_per_sec"] = round(n_webtext / nf_s, 1)
    shutil.rmtree(nf_dir, ignore_errors=True)

    # ---- doc replacement: 1% re-crawl (forward-index delta path) ----
    slot = F.pmod(F.xxhash64("url"), F.lit(100))
    recrawl = raw.filter(slot == 0).select(
        F.xxhash64("url").alias("doc_id"),
        F.concat(F.lit("recrawled content marker "),
                 extract_text(F.col("html"))).alias("text"))
    # delta-only cost (the r2 weak spot: was a full postings decode,
    # 9.7s at this scale; now a row-group-pruned forward scan) measured
    # as its own job, then the full replace (delta + indexing the new
    # 1% segment — tokenize/stats/forward/encode)
    from semcode_spark.operators.index_build import live_forward
    widx0 = read_index(spark, web_idx)
    ids = [r["doc_id"] for r in recrawl.select("doc_id").collect()]
    t0 = time.time()
    (live_forward(widx0).filter(F.col("doc_id").isin(ids))
     .groupBy("term").agg(F.count(F.lit(1)).alias("df")).count())
    extras["replace_delta_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    out = add_segment(spark, web_idx, recrawl)
    extras["replace_1pct_sec"] = round(time.time() - t0, 3)
    extras["replace_1pct_docs"] = out["n_replaced"]

    # ---- tombstone pressure + compaction ----
    wave2 = raw.filter((slot >= 1) & (slot <= 15)).select(
        F.xxhash64("url").alias("doc_id"),
        F.concat(F.lit("second wave "), extract_text(F.col("html"))).alias("text"))
    add_segment(spark, web_idx, wave2)
    widx = read_index(spark, web_idx)
    extras["tombstones"] = widx["_n_tombstones"]
    t0 = time.time()
    wand_topk(spark, widx, "merge window data", k=10).collect()
    extras["query_tombstoned_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    compact_segments(spark, web_idx)
    extras["compact_sec"] = round(time.time() - t0, 3)
    widx2 = read_index(spark, web_idx)
    t0 = time.time()
    wand_topk(spark, widx2, "merge window data", k=10).collect()
    extras["query_compacted_sec"] = round(time.time() - t0, 3)

    # ---- headline queries ----
    # keys match r3/r4 BENCH files for round-over-round comparability;
    # names the r5 registry consolidation folded away (bm25_topk_rare,
    # windowed_event_stats, quality_score, token_count) run the same
    # computation via direct operator calls
    qs = entry.queries()
    headline = [
        "bm25_topk", "term_stats", "conjunctive_and",
        "q1_pricing_summary", "q3_topk_revenue", "window_topn_acctbal",
        "dedup_exact", "dedup_minhash_lsh",
        "simhash_values", "ann_cosine_topk",
    ]
    for name in headline:
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect())
    from semcode_spark.operators import textstats as TS
    from semcode_spark.streaming.incremental import windowed_event_stats
    timed("bm25_topk_rare", lambda: entry._bm25_spark(
        spark, sf_dir, entry.BM25_RARE_QUERY, 10).collect())
    timed("windowed_event_stats", lambda: windowed_event_stats(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")),
        window="1 hour").collect())
    bench_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    timed("quality_score", lambda: TS.quality_score(bench_docs).collect())
    timed("token_count", lambda: TS.token_count(bench_docs).collect())

    # WAND over the prebuilt block index (query-side latency, SURVEY §3.2)
    idx = read_index(spark, idx_dir)
    timed("wand_topk", lambda: wand_topk(spark, idx, "spark query data", k=10).collect())

    # serving mode: cached/materialized index, warm queries (the fair
    # analog of the reference's long-lived service + loaded collection)
    hot_idx = read_index(spark, idx_dir, cache=True)
    wand_topk(spark, hot_idx, "window merge", k=10).collect()  # warm-up
    t0 = time.time()
    n_warm = 5
    for i in range(n_warm):
        wand_topk(spark, hot_idx, ["spark query data", "dup merge", "the",
                                   "table scan", "sort batch"][i], k=10).collect()
    extras["wand_warm_sec_per_query"] = round((time.time() - t0) / n_warm, 4)

    # batched retrieval: the whole 24-query reference set in one job
    from semcode_spark.fixtures.queries import REFERENCE_QUERIES
    from semcode_spark.operators.query import bm25_topk_batch

    t0 = time.time()
    n_hits = bm25_topk_batch(spark, hot_idx, REFERENCE_QUERIES,
                             prune=False).count()
    batch_s = time.time() - t0
    extras["batch_24q_sec"] = round(batch_s, 3)
    extras["batch_sec_per_query"] = round(batch_s / len(REFERENCE_QUERIES), 4)
    extras["batch_hits"] = n_hits

    # ---- the flat batch at a candidate-block count FAR past the old
    # auto threshold (r3 verdict #5). 50× replicated documents corpus
    # → ~45k candidate blocks for the reference set; best-of-2, auto's
    # pick recorded every round ----
    from semcode_spark.operators.query import (
        _query_terms, _term_meta, wand_topk_impact)
    xdir = tempfile.mkdtemp(prefix="bench_crossover_")
    reps = spark.range(50).select(F.col("id").alias("rep"))
    big = (docs.select("doc_id", "text").crossJoin(reps)
           .select((F.col("doc_id") + F.col("rep") * 10_000_000)
                   .alias("doc_id"), "text"))
    # impact-ordered layout (r5): same block count/bytes as the doc_id
    # layout (the same posting rows, tests/test_impact.py), so the flat
    # crossover number stays comparable to r3/r4 — and the same index
    # carries the impact decode-volume measurement
    xcfg = EngineConfig(bm25=BM25Config(),
                        index=IndexConfig(impact_ordered=True))
    build_index(spark, big, xdir, cfg=xcfg, groups=1)
    xidx = read_index(spark, xdir, cache=True)
    xc = xidx["corpus"].collect()[0]
    xterms = sorted({t for _, text, _ in REFERENCE_QUERIES
                     for t in _query_terms(xidx, text)})
    xblocks = _term_meta(spark, xidx, xterms,
                         float(xc["n_docs"]), float(xc["avgdl"])).n_blocks
    extras["crossover_docs"] = int(xc["n_docs"])
    extras["crossover_union_blocks"] = int(xblocks)
    # warm (auto is flat at this size), and record the plan auto picks
    st: dict = {}
    bm25_topk_batch(spark, xidx, REFERENCE_QUERIES, prune="auto", stats=st).count()
    xs = []
    for _ in range(2):
        t0 = time.time()
        n_hits_flat = bm25_topk_batch(spark, xidx, REFERENCE_QUERIES,
                                      prune=False).count()
        xs.append(time.time() - t0)
    extras["crossover_flat_sec"] = round(min(xs), 3)
    extras["crossover_auto_mode"] = st["plan"]

    # ---- impact retrieval decode volume (r4 verdict item 1's "done"
    # metric): blocks decoded / candidate for the full 24-query set on
    # the crossover corpus — where the r4 static filter measured
    # exactly 100% survivors. Lossless: per-query hits are asserted
    # against the flat path on the first 3 queries. ----
    dec_total, cand_total, per_q = 0, 0, []
    imp_times = []
    for qi, (qid, text, k) in enumerate(REFERENCE_QUERIES):
        st = {"exact": True}
        t0 = time.time()
        rows = wand_topk_impact(spark, xidx, text, k=k, stats=st).collect()
        imp_times.append(time.time() - t0)
        dec_total += st["blocks_decoded"]
        cand_total += st["blocks_candidate"]
        per_q.append(round(st["blocks_decoded"]
                           / max(1, st["blocks_candidate"]), 3))
        if qi < 3:
            flat = (bm25_topk_batch(spark, xidx, [(qid, text, k)],
                                    prune=False).collect())
            assert sorted((r["doc_id"], round(r["score"], 6)) for r in rows) \
                == sorted((r["doc_id"], round(r["score"], 6)) for r in flat), \
                f"impact must stay lossless: {text!r}"
    extras["impact_blocks_candidate_24q"] = cand_total
    extras["impact_blocks_decoded_24q"] = dec_total
    extras["impact_decode_frac_24q"] = round(dec_total / max(1, cand_total), 4)
    extras["impact_decode_frac_per_query"] = per_q
    imp_times.sort()
    extras["impact_query_p50_sec"] = round(imp_times[len(imp_times) // 2], 3)
    # batched impact: the whole 24-query set in THREE jobs (θ bootstrap,
    # one merged ids-only decode, one forward-completion scoring pass)
    t0 = time.time()
    n_hits_imp = bm25_topk_batch(spark, xidx, REFERENCE_QUERIES,
                                 prune="impact").count()
    imp_batch_s = time.time() - t0
    assert n_hits_imp == n_hits_flat, "batched impact must stay lossless"
    extras["impact_batch_24q_sec"] = round(imp_batch_s, 3)
    extras["impact_batch_sec_per_query"] = round(
        imp_batch_s / len(REFERENCE_QUERIES), 4)
    shutil.rmtree(xdir, ignore_errors=True)

    # ---- cold term-meta path (r4 verdict item 6): beyond the 2M-row
    # term-dictionary cap every query pays a per-query metadata job —
    # measure it on a FRESH handle (no _term_dict, empty memo) ----
    cold_idx = read_index(spark, idx_dir)  # cache=False: no term dict
    t0 = time.time()
    _term_meta(spark, cold_idx, ["spark", "query", "data"],
               5000.0, 50.0)
    extras["term_meta_cold_sec"] = round(time.time() - t0, 3)

    # ---- ANN recall@10 vs brute force (recorded every round) ----
    from semcode_spark.operators.similarity import (
        cosine_topk, ivf_topk, lsh_ann_topk)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qv = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(cands, qv, k=10).collect()}
    lsh = {(r["query_id"], r["vec_id"])
           for r in lsh_ann_topk(cands, qv, k=10).collect()}
    ivf_pin = {(r["query_id"], r["vec_id"])
               for r in ivf_topk(cands, qv, k=10, nlist=16, nprobe=4).collect()}
    # DEFAULT path = adaptive nprobe (r4: the tuned knob is the default;
    # the pinned variant stays only as the DuckDB oracle pin)
    ivf_def = {(r["query_id"], r["vec_id"])
               for r in ivf_topk(cands, qv, k=10, nlist=16).collect()}
    extras["lsh_recall_at10"] = round(len(exact & lsh) / len(exact), 3)
    extras["ivf_recall_at10"] = round(len(exact & ivf_def) / len(exact), 3)
    extras["ivf_recall_at10_pinned"] = round(len(exact & ivf_pin) / len(exact), 3)

    spark.stop()

    # ---- packaged spark-submit run in a fresh JVM (north-rule packaging
    # path: --py-files zip + scripts/query_index.py against the index) ----
    try:
        from semcode_spark.packaging import make_pyfiles_zip
        zip_path = make_pyfiles_zip()
        repo = os.path.dirname(os.path.abspath(__file__))
        t0 = time.time()
        proc = subprocess.run(
            ["spark-submit", "--master", "local[8]",
             "--py-files", zip_path,
             os.path.join(repo, "scripts", "query_index.py"),
             "--index", idx_dir, "--k", "10",
             "--query", "spark query data", "--query", "dup merge",
             "--query", "table scan"],
            capture_output=True, text=True, timeout=300)
        wall = time.time() - t0
        hits = [json.loads(line) for line in proc.stdout.splitlines()
                if line.startswith("{")]
        if proc.returncode == 0 and len(hits) == 3:
            extras["spark_submit_wall_sec"] = round(wall, 3)
            extras["spark_submit_query_ms"] = [h["wall_ms"] for h in hits]
        else:
            extras["spark_submit_wall_sec"] = -1.0
    except FileNotFoundError:
        extras["spark_submit_wall_sec"] = -1.0  # no spark-submit on PATH

    shutil.rmtree(idx_dir, ignore_errors=True)
    shutil.rmtree(web_dir, ignore_errors=True)

    lat = sorted(timings.values())
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "query_p50_sec": lat[len(lat) // 2],
        "sf": sf,
        **extras,
    }
    json.dump(out, sys.stdout)
    print()


if __name__ == "__main__":
    main()
