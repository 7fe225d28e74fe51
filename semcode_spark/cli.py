"""Thin CLI mirroring the reference's ingest/query UX (cli.py:119-313)
without the service stack — every command is a Spark job.

    python -m semcode_spark.cli build   --input docs.parquet --output idx/ [--positions]
    python -m semcode_spark.cli query   --index idx/ --query "spark shuffle"
    python -m semcode_spark.cli phrase  --index idx/ --phrase "table scan"
    python -m semcode_spark.cli add     --index idx/ --input recrawl.parquet
    python -m semcode_spark.cli compact --index idx/ [--groups 4]
    python -m semcode_spark.cli gc      --index idx/
    python -m semcode_spark.cli status  --index idx/ --groups 4
    python -m semcode_spark.cli package --out semcode_spark.zip
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="semcode_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--groups", type=int, default=4)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--positions", action="store_true",
                   help="store token positions (enables `phrase`)")
    b.add_argument("--no-forward", action="store_true",
                   help="skip the forward table: ~20%% faster build for "
                        "append-only corpora; replace/compaction read "
                        "the postings store instead")
    b.add_argument("--impact", action="store_true",
                   help="impact-ordered block layout: blocks hold "
                        "postings by descending BM25 weight so "
                        "`query --mode impact` can decode bounded "
                        "prefixes of huge posting lists")

    q = sub.add_parser("query", help="BM25 top-k query against an index")
    q.add_argument("--index", required=True)
    q.add_argument("--query", action="append", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", choices=["auto", "flat", "impact"],
                   default="auto",
                   help="auto=flat below impact_auto_min_blocks candidate "
                        "blocks, impact above; impact="
                        "MaxScore term skip + impact-prefix decode + "
                        "forward completion (bounded decode volume; "
                        "needs a forward table)")

    ph = sub.add_parser("phrase", help="exact-phrase docs from a positional index")
    ph.add_argument("--index", required=True)
    ph.add_argument("--phrase", action="append", required=True)

    a = sub.add_parser("add", help="add/replace docs as a new segment")
    a.add_argument("--index", required=True)
    a.add_argument("--input", required=True)
    a.add_argument("--no-replace", action="store_true",
                   help="fail instead of replacing colliding doc_ids")

    sg = sub.add_parser("suggest", help="did-you-mean over the term dictionary")
    sg.add_argument("--index", required=True)
    sg.add_argument("--word", action="append", required=True)
    sg.add_argument("--max-dist", type=int, default=2)

    c = sub.add_parser("compact", help="merge segments into a fresh snapshot")
    c.add_argument("--index", required=True)
    c.add_argument("--groups", type=int, default=1)
    c.add_argument("--resume", action="store_true")

    g = sub.add_parser("gc", help="remove orphan version dirs")
    g.add_argument("--index", required=True)

    s = sub.add_parser("status", help="manifest/lineage of an index")
    s.add_argument("--index", required=True)
    s.add_argument("--groups", type=int, default=4)

    p = sub.add_parser("package", help="zip the package for --py-files")
    p.add_argument("--out", default=None)

    args = ap.parse_args(argv)

    if args.cmd == "package":
        from semcode_spark.packaging import make_pyfiles_zip

        print(make_pyfiles_zip(args.out))
        return 0

    from semcode_spark.session import get_spark

    spark = get_spark(f"semcode-{args.cmd}")
    try:
        if args.cmd == "build":
            from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
            from semcode_spark.operators.index_build import build_index

            cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
                store_positions=args.positions,
                store_forward=not args.no_forward,
                impact_ordered=args.impact))
            docs = spark.read.parquet(args.input)
            out = build_index(spark, docs, args.output, cfg=cfg,
                              groups=args.groups, resume=args.resume)
            json.dump(out, sys.stdout)
            print()
        elif args.cmd == "phrase":
            from semcode_spark.operators.index_build import read_index
            from semcode_spark.operators.query import phrase_match

            idx = read_index(spark, args.index)
            for text in args.phrase:
                ids = sorted(r["doc_id"] for r in
                             phrase_match(spark, idx, text).collect())
                json.dump({"phrase": text, "n": len(ids), "doc_ids": ids},
                          sys.stdout)
                print()
        elif args.cmd == "add":
            from semcode_spark.operators.segments import add_segment

            out = add_segment(spark, args.index,
                              spark.read.parquet(args.input),
                              replace=not args.no_replace)
            json.dump(out, sys.stdout)
            print()
        elif args.cmd == "suggest":
            from semcode_spark.operators.index_build import read_index
            from semcode_spark.operators.query import suggest_terms

            idx = read_index(spark, args.index)
            for word in args.word:
                rows = suggest_terms(spark, idx, word,
                                     max_dist=args.max_dist).collect()
                json.dump({"word": word, "suggestions": [
                    {"term": r["term"], "dist": r["dist"], "df": r["df"]}
                    for r in rows]}, sys.stdout)
                print()
        elif args.cmd == "compact":
            from semcode_spark.operators.segments import compact_segments

            out = compact_segments(spark, args.index, groups=args.groups,
                                   resume=args.resume)
            json.dump(out, sys.stdout)
            print()
        elif args.cmd == "gc":
            from semcode_spark.operators.segments import gc_versions

            json.dump({"removed": gc_versions(args.index)}, sys.stdout)
            print()
        elif args.cmd == "query":
            from semcode_spark.operators.index_build import read_index
            from semcode_spark.operators.query import wand_topk

            prune = {"auto": "auto", "flat": False,
                     "impact": "impact"}[args.mode]
            idx = read_index(spark, args.index)
            for text in args.query:
                stats: dict = {}
                rows = wand_topk(spark, idx, text, k=args.k, prune=prune,
                                 stats=stats).collect()
                # mode: what was asked; plan: what the planner ran
                json.dump({"query": text, "mode": args.mode,
                           "plan": stats["plan"], "hits": [
                    {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
                    for r in rows]}, sys.stdout)
                print()
        elif args.cmd == "status":
            from semcode_spark.plans.lineage import resume_plan

            json.dump(resume_plan(spark, args.index, args.groups), sys.stdout)
            print()
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
