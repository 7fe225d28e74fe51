"""Round-6 optimization harness — per-operator isolation (guide §1).

NOT the frozen driver bench (bench.py). This file exists so each
headline operator can be timed alone, repeated, and plan-captured
while iterating, without touching the measurement contract.

Usage:
  python bench_extra.py --only dedup_minhash_lsh,simhash_values -r 3
  python bench_extra.py --plans plans/r06 --suffix before
  python bench_extra.py --noop          # noop sink instead of collect()

Timings use the same methodology as bench.py (`.collect()` of the
declared query) by default so the numbers are comparable with
BENCH_r05; --noop switches to the noop sink (guide §1.4) to take the
driver-collect cost out of the picture.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from semcode_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma list of query names")
    ap.add_argument("-r", "--repeats", type=int, default=1)
    ap.add_argument("--plans", default="", help="dir to write explain output")
    ap.add_argument("--suffix", default="now", help="plan file suffix")
    ap.add_argument("--noop", action="store_true",
                    help="time with noop sink instead of collect()")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("semcode-bench-extra")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(spark.sparkContext.defaultParallelism, 16)))
    import __spark_entry__ as entry
    import pyspark.sql.functions as F
    from semcode_spark.operators import textstats as TS
    from semcode_spark.streaming.incremental import windowed_event_stats

    sf_dir = args.sf
    qs = entry.queries()
    # the bench.py headline set, incl. the non-registry names it times
    bench_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    extra = {
        "bm25_topk_rare": lambda spark, sf: entry._bm25_spark(
            spark, sf, entry.BM25_RARE_QUERY, 10),
        "windowed_event_stats": lambda spark, sf: windowed_event_stats(
            spark.read.parquet(os.path.join(sf, "events.parquet")),
            window="1 hour"),
        "quality_score": lambda spark, sf: TS.quality_score(bench_docs),
        "token_count": lambda spark, sf: TS.token_count(bench_docs),
    }
    headline = [
        "bm25_topk", "term_stats", "conjunctive_and",
        "q1_pricing_summary", "q3_topk_revenue", "window_topn_acctbal",
        "dedup_exact", "dedup_minhash_lsh", "simhash_values",
        "ann_cosine_topk", "bm25_topk_rare", "windowed_event_stats",
        "quality_score", "token_count",
    ]
    only = [s for s in args.only.split(",") if s]
    names = only or headline

    out: dict[str, list[float]] = {}
    for name in names:
        fn = extra.get(name) or qs.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"r06:{name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.plans, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        for _ in range(args.repeats):
            t0 = time.time()
            df = fn(spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({name: out[name]}), flush=True)
    best = {k: min(v) for k, v in out.items()}
    print(json.dumps({"sf": sf_dir, "best": best,
                      "total_best": round(sum(best.values()), 3)}))


if __name__ == "__main__":
    main()
