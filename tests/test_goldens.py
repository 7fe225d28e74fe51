"""Committed golden top-k files (tools/gen_goldens.py) vs the engine.

Unlike the in-test oracle comparison, the CSVs freeze today's contract:
any future change to tokenizer / BM25 constants / tie-break ordering
fails here even if engine and oracle drift together.
"""

import csv
import os

import pytest

from semcode_spark.fixtures.queries import REFERENCE_QUERIES
from semcode_spark.operators.index_build import build_index, read_index
from semcode_spark.operators.query import bm25_topk_batch

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
GOLDEN = os.path.join(os.path.dirname(__file__), "goldens",
                      f"golden_topk_{SF_DIR.rstrip('/').rsplit('/', 1)[-1]}.csv")


def load_golden():
    out = {}
    with open(GOLDEN) as f:
        for row in csv.DictReader(f):
            out.setdefault(int(row["query_id"]), []).append(
                (int(row["rank"]), int(row["doc_id"]), float(row["score"])))
    return out


def test_engine_matches_committed_goldens(spark, documents, tmp_path):
    golden = load_golden()
    out = str(tmp_path / "golden_idx")
    build_index(spark, documents, out, groups=1)
    got = bm25_topk_batch(spark, read_index(spark, out), REFERENCE_QUERIES).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    n_checked = 0
    for qid, want in golden.items():
        rows = by_q.get(qid, [])
        assert [(r["rank"], r["doc_id"]) for r in rows] == \
            [(rk, d) for rk, d, _ in want], f"query_id={qid}"
        for r, (_, _, s) in zip(rows, want):
            assert r["score"] == pytest.approx(s, abs=1e-8)
        n_checked += 1
    assert n_checked == len(golden) > 15
