"""Two-parallelism scaling evidence (north_rule: ≥0.8 efficiency N → 4N).

No multi-node cluster exists in this sandbox, so the two "cluster
sizes" are two local parallelism levels running the IDENTICAL job in
fresh JVMs: index-build of the same synthetic webtext corpus at
local[N] and local[4N]. Reports throughput at both plus
efficiency = (thr_4N / thr_N) / 4, and appends the result to
BENCH/BASELINE.md.

    python scripts/scaling_bench.py [--docs 100000] [--n 8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

JOB = r"""
import json, sys, time, tempfile
from pyspark.sql import functions as F
from semcode_spark.session import get_spark
from semcode_spark.functions.extract import extract_text
from semcode_spark.operators.index_build import build_index
from semcode_spark.sources.webpages import synth_web_pages

cores, n_docs, pages_path = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
spark = get_spark("scaling", master=f"local[{cores}]", shuffle_partitions=cores)
raw = spark.read.parquet(pages_path)
t0 = time.time()
docs = raw.select(F.xxhash64("url").alias("doc_id"),
                  extract_text(F.col("html")).alias("text"))
out = tempfile.mkdtemp(prefix=f"scale_idx_{cores}_")
build_index(spark, docs, out, groups=1)
wall = time.time() - t0
print(json.dumps({"cores": cores, "docs": n_docs, "wall_s": round(wall, 2),
                  "docs_per_sec": round(n_docs / wall, 1)}))
spark.stop()
"""


def run_once(cores: int, n_docs: int, pages_path: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    out = subprocess.run(
        [sys.executable, "-c", JOB, str(cores), str(n_docs), pages_path],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_interleaved(levels: list[int], n_docs: int, pages_path: str,
                    reps: int = 2) -> dict[int, dict]:
    """Interleave levels across reps (N, 4N, N, 4N) and keep best-of per
    level — damps box noise (turbo, host steal, page cache)."""
    best: dict[int, dict] = {}
    for _ in range(reps):
        for cores in levels:
            r = run_once(cores, n_docs, pages_path)
            if cores not in best or r["wall_s"] < best[cores]["wall_s"]:
                best[cores] = r
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--n", type=int, default=8, help="small parallelism; big is 4n")
    args = ap.parse_args()

    # materialize the shared input once (identical bytes for both runs)
    pages_path = os.path.join(tempfile.gettempdir(), f"scale_pages_{args.docs}")
    if not os.path.exists(pages_path):
        gen = (
            "import sys\n"
            "from semcode_spark.session import get_spark\n"
            "from semcode_spark.sources.webpages import synth_web_pages\n"
            "spark = get_spark('gen', master='local[16]')\n"
            f"synth_web_pages(spark, {args.docs}).write.mode('overwrite')"
            f".parquet({pages_path!r})\n"
            "spark.stop()\n"
        )
        subprocess.run([sys.executable, "-c", gen], check=True, capture_output=True)

    # warm the input into page cache so both levels read identical state
    with open(os.path.join(pages_path, os.listdir(pages_path)[0]), "rb") as f:
        f.read()
    best = run_interleaved([args.n, args.n * 4], args.docs, pages_path)
    small, big = best[args.n], best[args.n * 4]
    eff = (big["docs_per_sec"] / small["docs_per_sec"]) / 4.0
    result = {"N": small, "4N": big, "scaling_efficiency": round(eff, 3)}
    print(json.dumps(result))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n## Scaling run ({time.strftime('%Y-%m-%d %H:%M:%S')} UTC)\n\n"
            f"Identical index-build job (synthetic webtext, {args.docs} docs, "
            f"html→text extraction + full block index) at two parallelism "
            f"levels, fresh JVM each, interleaved best-of-2 (see the "
            f"hardware-ceiling analysis above for why >8 local cores "
            f"saturate on this VM):\n\n"
            f"| parallelism | wall s | docs/sec |\n|---|---|---|\n"
            f"| local[{args.n}] (N) | {small['wall_s']} | {small['docs_per_sec']} |\n"
            f"| local[{args.n * 4}] (4N) | {big['wall_s']} | {big['docs_per_sec']} |\n\n"
            f"**Scaling efficiency (thr_4N / thr_N) / 4 = {eff:.3f}** "
            f"(north_rule target ≥ 0.8 on a real multi-node cluster)\n"
        )


if __name__ == "__main__":
    main()
