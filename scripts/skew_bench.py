"""Skew-stress benchmark: hot-term salting on a pathologically skewed
corpus (north_rule: explicit hot-term skew splitting).

Synthesizes N docs that ALL contain one stopword-like term (df = 100%
of docs; every real web corpus has several of these), so the postings
shuffle has one key carrying N rows while the median key carries a
handful. Runs the block+write stage (index_build.block_postings) twice
— salting disabled vs enabled — and reports stage wall plus the
reducer-load distribution
(max/median bucket rows), the direct evidence that the salted shuffle
has no straggler reducer.

    python scripts/skew_bench.py [--docs 200000] [--cpus 32]

Output: one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--buckets", type=int, default=128)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
    from semcode_spark.operators.index_build import block_postings, term_doc_tf
    from semcode_spark.session import get_spark

    spark = get_spark("skew-bench", master=f"local[{args.cpus}]",
                      shuffle_partitions=max(args.cpus, 16))
    cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
        term_buckets=args.buckets, salt_factor=8))

    # every doc: the hot term + 11 words drawn from a 50k vocab — one
    # posting key with df == n_docs, median key df ≈ n_docs*11/50k
    words = F.transform(
        F.sequence(F.lit(0), F.lit(10)),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("doc_id"), i),
                                              F.lit(50_000)).cast("string")),
    )
    docs = (
        spark.range(args.docs).withColumnRenamed("id", "doc_id")
        .select("doc_id",
                F.concat_ws(" ", F.concat_ws(" ", words), F.lit("hotterm"))
                .alias("text"))
    )
    docs.write.mode("overwrite").parquet(
        tmp_in := tempfile.mkdtemp(prefix="skew_docs_") + "/docs")
    docs = spark.read.parquet(tmp_in)
    tf = term_doc_tf(docs).persist()
    tf.count()  # materialize: both runs shuffle the identical relation

    out: dict = {"n_docs": args.docs, "cpus": args.cpus,
                 "term_buckets": args.buckets, "salt_factor": 8}
    for label, hot in (("unsalted", []), ("salted", ["hotterm"])):
        rows_df = block_postings(tf, 12.0, hot, cfg)
        d = tempfile.mkdtemp(prefix=f"skew_{label}_")
        t0 = time.time()
        rows_df.write.mode("overwrite").parquet(d)
        out[f"{label}_encode_sec"] = round(time.time() - t0, 2)
        # reducer load = postings rows per bucket (the shuffle key space,
        # recomputed as block_postings keys its repartition)
        bucket = F.pmod(F.xxhash64("term", "salt"), F.lit(args.buckets))
        rows = (spark.read.parquet(d)
                .groupBy(bucket.alias("bucket")).count()
                .withColumnRenamed("count", "rows").collect())
        loads = sorted(r["rows"] for r in rows)
        out[f"{label}_max_bucket_rows"] = loads[-1]
        out[f"{label}_median_bucket_rows"] = loads[len(loads) // 2]
        out[f"{label}_skew_ratio"] = round(loads[-1] / loads[len(loads) // 2], 1)
        shutil.rmtree(d, ignore_errors=True)
    tf.unpersist()
    shutil.rmtree(tmp_in.rsplit("/", 1)[0], ignore_errors=True)
    out["speedup"] = round(out["unsalted_encode_sec"] / out["salted_encode_sec"], 2)
    json.dump(out, sys.stdout)
    print()
    spark.stop()


if __name__ == "__main__":
    main()
