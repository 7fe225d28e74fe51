"""r06 impact-retrieval measurement harness (VERDICT #1/#2/#3).

Replicates the frozen bench.py crossover section (50×-replicated docs
corpus, impact-ordered index) and measures:
- per-query decode fraction for the 24-query reference set (VERDICT #2:
  target max ≤ ~0.45 after the exact-completion θ bootstrap);
- the cand_join=False forward-scan regime vs the candidate-join variant
  on the same query (VERDICT #3: impact_fwd_scan_sec /
  impact_cand_join_sec);
- flat vs impact batch wall, and flat-path latency on a doc_id-layout
  vs impact-layout twin of the same corpus (VERDICT #1 attribution).

Not part of the frozen driver contract (bench.py untouched).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from semcode_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("semcode-bench-impact")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(spark.sparkContext.defaultParallelism, 16)))
    import pyspark.sql.functions as F
    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.fixtures.queries import REFERENCE_QUERIES
    from semcode_spark.operators.index_build import build_index, read_index
    from semcode_spark.operators.query import (
        bm25_topk_batch, wand_topk, wand_topk_impact)

    out: dict = {}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reps = spark.range(50).select(F.col("id").alias("rep"))
    big = (docs.select("doc_id", "text").crossJoin(reps)
           .select((F.col("doc_id") + F.col("rep") * 10_000_000)
                   .alias("doc_id"), "text"))

    dirs = {}
    for name, impact in (("impact", True), ("docid", False)):
        d = tempfile.mkdtemp(prefix=f"bench_x_{name}_")
        cfg = EngineConfig(bm25=BM25Config(),
                           index=IndexConfig(impact_ordered=impact))
        t0 = time.time()
        build_index(spark, big, d, cfg=cfg, groups=1)
        out[f"build_{name}_sec"] = round(time.time() - t0, 3)
        dirs[name] = d

    xidx = read_index(spark, dirs["impact"], cache=True)
    xc = xidx["corpus"].collect()[0]
    out["crossover_docs"] = int(xc["n_docs"])

    # --- flat vs impact batch (impact layout), warm best-of-2 ---
    bm25_topk_batch(spark, xidx, REFERENCE_QUERIES, prune=False).count()
    for mode, key in ((False, "flat_batch_sec"), ("impact", "impact_batch_sec")):
        best = None
        for _ in range(2):
            t0 = time.time()
            n = bm25_topk_batch(spark, xidx, REFERENCE_QUERIES,
                                prune=mode).count()
            w = time.time() - t0
            best = w if best is None else min(best, w)
        out[key] = round(best, 3)
        out[key + "_hits"] = n

    # --- per-query decode fraction + single-impact p50 ---
    dec, cand, per_q, times = 0, 0, [], []
    for qid, text, k in REFERENCE_QUERIES:
        st = {"exact": True}
        t0 = time.time()
        wand_topk_impact(spark, xidx, text, k=k, stats=st).collect()
        times.append(time.time() - t0)
        dec += st["blocks_decoded"]
        cand += st["blocks_candidate"]
        per_q.append(round(st["blocks_decoded"]
                           / max(1, st["blocks_candidate"]), 3))
    times.sort()
    out["impact_decode_frac_24q"] = round(dec / max(1, cand), 4)
    out["impact_decode_frac_per_query"] = per_q
    out["impact_decode_frac_max"] = max(per_q)
    out["impact_query_p50_sec"] = round(times[len(times) // 2], 3)

    # --- VERDICT #3: cand_join regimes on the worst stopword query ---
    worst = REFERENCE_QUERIES[per_q.index(max(per_q))]
    # force cand_join True (huge broadcast_ids_max) and False (0)
    for key, ids_max in (("impact_cand_join_sec", 1 << 40),
                        ("impact_fwd_scan_sec", 0)):
        cfg2 = EngineConfig(
            bm25=BM25Config(),
            index=IndexConfig(broadcast_ids_max=ids_max))
        st = {}
        best = None
        for _ in range(2):
            t0 = time.time()
            wand_topk_impact(spark, xidx, worst[1], k=worst[2],
                             cfg=cfg2, stats=st).collect()
            w = time.time() - t0
            best = w if best is None else min(best, w)
        out[key] = round(best, 3)
        out[key + "_cand_join"] = st.get("cand_join")
    out["cand_join_query"] = worst[1]

    # --- VERDICT #1: flat single-query wand on both layouts ---
    for name in ("impact", "docid"):
        idx = read_index(spark, dirs[name], cache=True)
        wand_topk(spark, idx, "spark query data", k=10,
                  prune=False).collect()  # warm
        best = None
        for _ in range(3):
            t0 = time.time()
            wand_topk(spark, idx, "spark query data", k=10,
                      prune=False).collect()
            w = time.time() - t0
            best = w if best is None else min(best, w)
        out[f"wand_flat_{name}_layout_sec"] = round(best, 3)

    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
