"""spark-submit entry point: BM25 top-k queries against a built index.

    spark-submit --py-files semcode_spark.zip scripts/query_index.py \
        --index /path/to/index --query "spark shuffle" [--k 10] [--no-prune]

``--no-prune`` forces the flat plan; by default the planner picks flat
or impact (``prune="auto"``).

Prints one JSON line per query with ranked (doc_id, score) and wall ms —
the analog of the reference's /query endpoint response + telemetry
(api/main.py:199-223).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--no-prune", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from semcode_spark.session import get_spark
    from semcode_spark.operators.index_build import read_index
    from semcode_spark.operators.query import wand_topk

    spark = get_spark("semcode-query", master=args.master)
    idx = read_index(spark, args.index)
    for q in args.query:
        t0 = time.time()
        rows = wand_topk(spark, idx, q, k=args.k,
                         prune=False if args.no_prune else "auto").collect()
        json.dump({
            "query": q,
            "wall_ms": int((time.time() - t0) * 1000),
            "hits": [{"doc_id": r["doc_id"], "score": round(r["score"], 6)}
                     for r in rows],
        }, sys.stdout)
        print()
    spark.stop()


if __name__ == "__main__":
    main()
