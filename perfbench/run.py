#!/usr/bin/env python3
"""semcode_spark benchmark entry point.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. Each run starts one Spark session in a
child process (pipeline.py) with the environment pinned here, waits for
it, stops every process it left, and prints one context line and then
the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). Results and spans are kept under .perfbench/ in the
checkout. --selfcheck runs every workload at tiny sizes, traced, and
exits non-zero unless every phase ran, every result was correct and
the metric names and units match BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CHILD_TIMEOUT_S = 165
PR_SET_CHILD_SUBREAPER = 36
SCRATCH_DIRS = ("tmp", "spark-local")  # under WORK, made again for each run
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import inputs  # noqa: E402

UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "query_p50_ms": "ms",
    "batch_qps": "queries/s", "impact_batch_qps": "queries/s",
    "build_docs_per_s": "docs/s", "replace_p50_s": "s",
    "cold_query_ms": "ms", "index_bytes_per_text_byte": "ratio",
}
MEASURE_UNITS = {
    "wall_ms": "ms", "python_ms": "ms", "self_ms": "ms",
    "shuffle_bytes": "bytes", "python_bytes": "bytes", "bytes_written": "bytes",
    "jobs": "count", "stages": "count", "tasks": "count", "files_written": "count",
    "decode_frac": "ratio",
}


def layer_unit(name: str) -> str:
    return MEASURE_UNITS[name.rsplit(".", 1)[-1]]


def pinned_env(work: str) -> dict[str, str]:
    """The child's environment: all cores of this box, a driver heap well
    below its RAM, workers that can import the engine, and every scratch
    file inside the checkout."""
    tmp, local = (os.path.join(work, d) for d in SCRATCH_DIRS)
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "4g",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # no hsperfdata under /tmp; JVM temp files stay in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def environment() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    head = "unknown"
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        head = ref
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "git_head": head}


def _children() -> list[int]:
    """Processes whose parent is this one (as a subreaper, that includes
    every orphan of the run)."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # after the ")" closing the command name: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _stop_all() -> None:
    """Kill everything the run left and wait until it has ended: the
    child's session (the Spark JVM) and the process group of each orphan
    reparented here (PySpark's worker daemon makes its own group)."""
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        for pid in _children():
            try:
                pgid = os.getpgid(pid)
                if pgid == os.getpgrp():  # never this process's own group
                    os.kill(pid, signal.SIGKILL)
                else:
                    os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    print("perfbench: processes of the run still alive after 30 s", file=sys.stderr)


def run_child(workload: str, seed: int, seconds: float, trace: int,
              tiny: bool = False) -> dict | None:
    run_dir = os.path.join(WORK, f"{workload}-s{seed}-t{trace}")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "pipeline.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", os.path.join(run_dir, "data"), "--out", out]
    if tiny:
        cmd.append("--tiny")
    # orphans of the run are reparented here, so _stop_all finds them
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=pinned_env(WORK),
                            stdout=sys.stderr, start_new_session=True)
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    try:
        # the child renames its result into place as its last step; after
        # that nothing of the run is needed, and killing the session saves
        # the seconds a graceful Spark and JVM shutdown takes
        while proc.poll() is None and not os.path.exists(out):
            if time.monotonic() > deadline:
                print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
                break
            time.sleep(0.05)
    finally:
        _stop_all()
        for d in (os.path.join(run_dir, "data"),
                  *(os.path.join(WORK, d) for d in SCRATCH_DIRS)):
            shutil.rmtree(d, ignore_errors=True)
    if not os.path.exists(out):
        return None
    with open(out) as f:
        return json.load(f)


def report(res: dict, trace: int, workload: str, seed: int) -> dict:
    """The result line, plus the tracing overhead when the untraced run
    of the same workload and seed is on disk."""
    if trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["per_layer"].items()}
        plain = os.path.join(WORK, f"{workload}-s{seed}-t0", "result.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]
            res["info"]["trace_overhead"] = {
                k: res["end_to_end"][k] / base[k] - 1.0 for k in base}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in res["end_to_end"].items()}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def selfcheck() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    ok = True
    for workload in sorted(inputs.MIXES):
        t0 = time.monotonic()
        res = run_child(workload, seed=1, seconds=1, trace=1, tiny=True)
        if res is not None:
            units = {**{k: UNITS[k] for k in res["end_to_end"]},
                     **{k: layer_unit(k) for k in res["per_layer"]}}
        good = (res is not None and res["correct"] and res["failed"] == 0
                and units == declared)
        ok &= good
        print(json.dumps({"selfcheck": workload, "ok": good,
                          "seconds": round(time.monotonic() - t0, 1),
                          "attempted": res and res["attempted"],
                          "problems": res and res["problems"]}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(inputs.MIXES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "semcode_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} holds no semcode_spark checkout", file=sys.stderr)
        return 2
    if args.selfcheck:
        return selfcheck()
    if args.workload is None:
        ap.error("--workload is required")
    res = run_child(args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        print("perfbench: the run failed; see stderr", file=sys.stderr)
        return 1
    line = report(res, args.trace, args.workload, args.seed)
    print(json.dumps({"context": {"workload": args.workload, "seed": args.seed,
                                  "trace": args.trace, **environment(),
                                  **res["info"], "problems": res["problems"]}}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
