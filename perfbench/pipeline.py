"""One benchmark run in one Spark session (started by run.py).

Every run goes through the same phases; the workload only changes the
serve query mix (see inputs.MIXES):

  set-up  session, seeded HTML pages and re-crawl pages, and later the
          cached open of the index
  build   extract_text feeds build_index over the pages (the first
          Python UDF of the run: it starts the Python workers)
  serve   the same index, opened with cache=True, one untimed warm-up
          batch, then a closed loop with one client for --seconds (at
          least one cycle): single wand_topk queries and 24-query
          bm25_topk_batch calls with prune="auto" and "impact"
  crawl   a 1% re-crawl through add_segment, then three cold queries on
          the index it left (one more segment, and tombstones)

Every answer is checked against semcode_spark.oracle.BM25Oracle over the
live texts, outside the timed windows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from layertrace import Tracer  # noqa: E402

# traced layer name -> measures reported for it
LAYERS = {
    "session.get_spark": ("wall_ms",),
    "extract.extract_text": ("wall_ms", "python_ms", "python_bytes"),
    "index_build.term_doc_tf": ("wall_ms",),
    "index_build.build_index": ("wall_ms", "jobs", "stages", "tasks",
                                "shuffle_bytes", "python_ms"),
    "index_build.read_index": ("wall_ms", "jobs"),
    "index_build.read_index.cache": ("wall_ms",),
    "query.wand_topk": ("wall_ms", "jobs", "stages", "tasks", "python_ms"),
    "query.bm25_topk_batch": ("wall_ms", "jobs", "python_ms"),
    "query.bm25_topk_batch.impact": ("wall_ms", "jobs", "python_ms"),
    "segments.add_segment": ("wall_ms", "jobs", "stages", "shuffle_bytes",
                             "bytes_written", "files_written"),
}
# single values the harness records itself
VALUES = ("query.wand_topk_impact.decode_frac", "trace.self_ms")


def per_layer_names() -> list[str]:
    return [f"{k}.{m}" for k, ms in LAYERS.items() for m in ms] + list(VALUES)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for dp, _, fns in os.walk(path):
        for fn in fns:
            p = os.path.join(dp, fn)
            out[p] = os.path.getsize(p)
    return out


def _live_bytes(index_dir: str) -> int:
    from semcode_spark.sources.tableio import read_current_version, version_dir

    vdir = version_dir(index_dir, read_current_version(index_dir))
    return sum(_tree_files(vdir).values())


class Run:
    def __init__(self, args):
        self.args = args
        self.mix = inputs.MIXES[args.workload]
        self.sizes = inputs.TINY if args.tiny else inputs.FULL
        self.work = os.path.abspath(args.work)
        os.makedirs(self.work, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.info: dict = {}

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def timed(self, name: str, fn, *a, **kw):
        """Run one operation through the tracer; returns (result, seconds)."""
        t0 = time.perf_counter()
        out = self.tr.call(name, fn, *a, **kw)
        return out, time.perf_counter() - t0

    def check_topk(self, what: str, rows, oracle, query: str, k: int) -> None:
        got = [(int(r[0]), float(r[1])) for r in rows]
        want = oracle.topk(query, k)
        ok = len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= 1e-6 * max(1.0, abs(w[1]))
            for g, w in zip(got, want))
        self.check(f"{what}: {query!r} k={k}", ok)

    def setup(self) -> None:
        t0 = time.perf_counter()
        from semcode_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.driver.host": "localhost"}
        if self.args.trace:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                         "spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "100000"})
        self.spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        self.tr = Tracer(self.spark, bool(self.args.trace))
        self.tr.record("session.get_spark", wall_ms=session_s * 1000.0)

        import pyspark.sql.functions as F
        from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
        from semcode_spark.functions.extract import extract_text
        from semcode_spark.sources.webpages import synth_web_pages

        # impact-ordered so prune="impact" has its layout; 16 term buckets
        # = 4x the task slots of a 4-core box (IndexConfig's sizing rule)
        self.cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
            impact_ordered=True, term_buckets=16))
        seed, n = self.args.seed, self.sizes.pages

        # one generator job: pages 0..n-1 are the crawl, pages n.. are the
        # re-crawled contents of the 1%-slots, tagged with their round
        slots = [(r, d) for r, ids in enumerate(
            inputs.recrawl_slots(seed, n, self.sizes.recrawl_rounds)) for d in ids]
        seq = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")

        def recrawl(values: list[int]):
            """values[j] for the re-crawl page at sequence number n + j."""
            return F.element_at(F.array(*map(F.lit, values)), seq - n + 1)

        doc_id = F.when(seq < n, seq).otherwise(recrawl([d for _, d in slots]))
        rnd = F.when(seq < n, -1).otherwise(recrawl([r for r, _ in slots]))
        steps = self.info["setup_steps_s"] = {"session": session_s}
        t1 = time.perf_counter()
        pdir = os.path.join(self.work, "pages")
        (synth_web_pages(self.spark, n + len(slots), seed=seed)
         .select(doc_id.cast("long").alias("doc_id"), rnd.alias("round"),
                 "html", "text")
         .write.mode("overwrite").parquet(pdir))
        pages = self.spark.read.parquet(pdir)
        self.texts: dict[int, str] = {}
        recrawled: dict[int, dict[int, str]] = {}
        for doc_id, rnd, text in pages.select("doc_id", "round", "text").collect():
            (self.texts if rnd < 0 else recrawled.setdefault(rnd, {}))[doc_id] = text

        def docs(rnd: int):
            return pages.filter(F.col("round") == rnd).select(
                "doc_id", extract_text(F.col("html")).alias("text"))

        self.docs = docs(-1)
        self.recrawls = [(docs(r), recrawled[r]) for r in sorted(recrawled)]
        steps["pages"] = time.perf_counter() - t1
        self.setup_s = time.perf_counter() - t0

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def build(self) -> None:
        from semcode_spark.operators.index_build import build_index
        from semcode_spark.oracle import BM25Oracle

        self.idx_dir = os.path.join(self.work, "index")
        shutil.rmtree(self.idx_dir, ignore_errors=True)
        _, s = self.timed("index_build.build_index", build_index, self.spark,
                          self.docs, self.idx_dir, cfg=self.cfg, groups=1)
        self.metrics["build_docs_per_s"] = self.sizes.pages / s
        self.oracle = BM25Oracle(self.texts)
        self.stream = inputs.QueryStream(self.args.seed, self.mix, self.oracle.df)

    def serve(self) -> None:
        from semcode_spark.operators.index_build import read_index
        from semcode_spark.operators.query import (
            bm25_topk_batch, wand_topk, wand_topk_impact)

        idx, open_s = self.timed("index_build.read_index.cache", read_index,
                                 self.spark, self.idx_dir, cache=True)
        self.setup_s += open_s
        self.info["setup_steps_s"]["cached_open"] = open_s
        oracle, stream = self.oracle, self.stream

        def single() -> float:
            q, k = stream.next()
            rows, s = self.timed("query.wand_topk",
                                 lambda: wand_topk(self.spark, idx, q, k=k).collect())
            self.check_topk("wand_topk", rows, oracle, q, k)
            return s

        def batch(mode: str) -> float:
            qs = [(i, *stream.next()) for i in range(self.sizes.batch)]
            name = "query.bm25_topk_batch" + (".impact" if mode == "impact" else "")
            rows, s = self.timed(name, lambda: bm25_topk_batch(
                self.spark, idx, qs, prune=mode).collect())
            by_q: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
            for qid, q, k in qs:
                self.check_topk(f"batch {mode}", by_q.get(qid, []), oracle, q, k)
            return s

        # The first call of a plan pays one-time costs (code generation,
        # imports in the Python workers): 25-30% more for an auto batch,
        # about 10% for an impact batch and 50% for a single query. One
        # auto batch, checked and untimed, warms the shared paths; the
        # first single is one value of six in a median, and the impact
        # batch keeps its first-call cost, for time. Two auto batches a
        # cycle, because one warm call varies by up to 20% within a run.
        batch("auto")
        lat, auto, impact = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        while not impact or time.perf_counter() < t_end:
            lat += [single() for _ in range(3)]
            auto.append(batch("auto"))
            lat += [single() for _ in range(3)]
            impact.append(batch("impact"))
            auto.append(batch("auto"))
        self.metrics["query_p50_ms"] = median(lat) * 1000.0
        self.metrics["batch_qps"] = self.sizes.batch / median(auto)
        self.metrics["impact_batch_qps"] = self.sizes.batch / median(impact)
        self.info["serve"] = {"single_queries": len(lat), "batches_auto": len(auto),
                              "batches_impact": len(impact), **stream.shares()}

        if self.tr.enabled:  # decode volume of the impact plan, same queries
            replay = inputs.QueryStream(self.args.seed, self.mix, oracle.df)
            dec = cand = 0
            for _ in range(2):
                q, k = replay.next()
                st: dict = {}
                rows = wand_topk_impact(self.spark, idx, q, k=k, stats=st).collect()
                self.check_topk("wand_topk_impact", rows, oracle, q, k)
                dec += st.get("blocks_decoded", 0)
                cand += st.get("blocks_candidate", 0)
            self.tr.record("query.wand_topk_impact.decode_frac", value=dec / max(1, cand))
        for name in ("docs", "term_stats", "term_bounds", "postings"):
            idx[name].unpersist()  # serving ends; the crawl phase reads cold

    def cold_query(self, oracle) -> float:
        from semcode_spark.operators.index_build import read_index
        from semcode_spark.operators.query import wand_topk

        q, k = self.stream.next()
        t0 = time.perf_counter()
        idx = self.tr.call("index_build.read_index", read_index, self.spark, self.idx_dir)
        rows = self.tr.call("query.wand_topk",
                            lambda: wand_topk(self.spark, idx, q, k=k).collect())
        s = time.perf_counter() - t0
        self.check_topk("cold wand_topk", rows, oracle, q, k)
        return s

    def crawl(self) -> None:
        from semcode_spark.operators.segments import add_segment
        from semcode_spark.oracle import BM25Oracle

        replace = []
        for upd, new in self.recrawls:
            before = _tree_files(self.idx_dir)
            _, s = self.timed("segments.add_segment", add_segment, self.spark,
                              self.idx_dir, upd, cfg=self.cfg)
            replace.append(s)
            self._record_writes("segments.add_segment", before)
            self.texts.update(new)
        self.metrics["replace_p50_s"] = median(replace)
        # a median of three: one cold query in three or four took 2.0 s
        # instead of 1.5 s, whatever the seed
        oracle = BM25Oracle(self.texts)
        self.metrics["cold_query_ms"] = median(
            self.cold_query(oracle) for _ in range(3)) * 1000.0
        text_bytes = sum(len(t.encode()) for t in self.texts.values())
        self.metrics["index_bytes_per_text_byte"] = _live_bytes(self.idx_dir) / text_bytes

    def _record_writes(self, name: str, before: dict[str, int]) -> None:
        """Index files the last ``name`` call created or changed."""
        if self.tr.enabled:
            after = _tree_files(self.idx_dir)
            new = [n for p, n in after.items() if before.get(p) != n]
            self.tr.annotate(name, bytes_written=sum(new), files_written=len(new))

    def isolated(self) -> None:
        """Traced runs only, after the measured phases: extract_text alone,
        then extract_text + term_doc_tf, each into a noop sink."""
        from semcode_spark.operators.index_build import term_doc_tf

        self.tr.call("extract.extract_text", self._noop, self.docs)
        self.tr.call("index_build.term_doc_tf", self._noop,
                     term_doc_tf(self.docs, cfg=self.cfg))

    def finish(self) -> dict:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.metrics["peak_rss_mb"] = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
        self.metrics["setup_s"] = self.setup_s
        out = {"correct": self.failed == 0, "attempted": self.attempted,
               "failed": self.failed, "info": self.info, "problems": self.problems,
               "end_to_end": self.metrics}
        if self.tr.enabled:
            self.tr.record("trace.self_ms", value=median(self.tr.self_ms))
            layer = {}
            for name in per_layer_names():
                base, _, measure = name.rpartition(".")
                layer[name] = (self.tr.measure(base, measure) if base in LAYERS
                               else self.tr.measure(name, "value"))
            out["per_layer"] = layer
            self.tr.dump(os.path.join(os.path.dirname(self.args.out), "spans.json"))
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(inputs.MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    run = Run(args)
    run.setup()
    phases = run.info["phase_s"] = {"setup": time.perf_counter() - t0}
    try:
        steps = [("build", run.build), ("serve", run.serve), ("crawl", run.crawl)]
        if args.trace:
            steps.append(("isolated", run.isolated))
        for name, phase in steps:
            t1 = time.perf_counter()
            with run.tr.span(name):
                phase()
            phases[name] = time.perf_counter() - t1
        out = run.finish()
        # run.py takes the renamed file as the end of the run
        with open(args.out + ".part", "w") as f:
            json.dump(out, f)
        os.replace(args.out + ".part", args.out)
    finally:
        run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
