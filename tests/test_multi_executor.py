"""True multi-executor execution (local-cluster: separate executor JVMs
+ python workers, code shipped via the --py-files zip) — the closest a
single box gets to the north rule's multi-executor cluster: it exercises
executor-side imports of semcode_spark, cross-JVM shuffles, and the
Arrow kernels outside the driver process. Build + WAND answers must be
rank-identical to the single-JVM result.

Runs in a SUBPROCESS: SparkSession.getOrCreate() inside the pytest
process would return (and on teardown STOP) the suite's shared session.
"""

import json
import os
import subprocess
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

JOB = r"""
import json, sys, tempfile
from pyspark.sql import SparkSession
from semcode_spark.packaging import make_pyfiles_zip

sf_dir = sys.argv[1]
zip_path = make_pyfiles_zip(tempfile.mktemp(suffix="_lc.zip"))
spark = (SparkSession.builder.master("local-cluster[2,2,1024]")
         .appName("semcode-multi-executor")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.submit.pyFiles", zip_path)
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.addPyFile(zip_path)
spark.sparkContext.setLogLevel("ERROR")

from semcode_spark.config import BM25Config, EngineConfig, IndexConfig
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.query import (
    phrase_match, wand_topk, wand_topk_impact)

import os as _os
docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
cfg = EngineConfig(bm25=BM25Config(), index=IndexConfig(
    term_buckets=8, block_size=16, store_positions=True,
    impact_ordered=True))
d = tempfile.mkdtemp(prefix="lc_idx_")
out = build_index(spark, docs, d, cfg=cfg, groups=2)
idx = read_index(spark, d)
hits = [(r["doc_id"], round(r["score"], 4))
        for r in wand_topk(spark, idx, "spark query data", k=5,
                           cfg=cfg, prune="impact").collect()]
phrase = sorted(r["doc_id"] for r in
                phrase_match(spark, idx, "table scan").collect())
imp = [(r["doc_id"], round(r["score"], 4))
       for r in wand_topk_impact(spark, idx, "spark query data", k=5,
                                 cfg=cfg).collect()]
flat = [(r["doc_id"], round(r["score"], 4))
        for r in wand_topk(spark, idx, "spark query data", k=5,
                           cfg=cfg, prune=False).collect()]
print(json.dumps({"n_docs": out["n_docs"], "hits": hits,
                  "n_phrase": len(phrase), "phrase_head": phrase[:3],
                  "impact_hits": imp, "flat_hits": flat}))
spark.stop()
"""


def test_build_and_query_across_executors():
    proc = subprocess.run(
        [sys.executable, "-c", JOB, SF_DIR],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["n_docs"] == 500
    # golden from the single-JVM path — multi-executor must be
    # rank-identical
    assert out["hits"][0] == [340, 1.22] and out["hits"][1] == [356, 1.2], out
    assert len(out["hits"]) == 5
    assert out["n_phrase"] > 0 and out["phrase_head"][0] == 0
    # impact retrieval (ids-only decode + forward completion across
    # executor JVMs) must match the flat answer exactly
    assert out["impact_hits"] == out["hits"] == out["flat_hits"], out
