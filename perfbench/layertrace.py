"""Per-call layer tracing from outside the engine.

Untraced runs use ``Tracer(spark, enabled=False)``: ``call`` only runs
the function. Traced runs put every call into its own Spark job group
and afterwards read what the group did:

- jobs, stages and tasks from ``statusTracker``;
- shuffle write bytes from the UI's stages REST endpoint;
- Python-worker time and bytes from the SQL REST endpoint's node
  metrics "time to run Python workers" and "data sent to Python workers".

Spans (name, start, end, parent) stay in memory and are written out by
``dump``. The tracer's own bookkeeping time is kept per call, so the
tracing overhead is visible next to the numbers it produced.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from statistics import median

_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_METRIC_RE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
PY_TIME = "time to run Python workers"
PY_BYTES = "data sent to Python workers"


def _metric_total(text: str) -> float:
    """First quantity of a UI metric string, in ms or bytes. Aggregated
    metrics read "total (min, med, max ...)\\n<total> (<min>, ...)"."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_RE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.calls: dict[str, list[dict]] = {}
        self.self_ms: list[float] = []
        self._stack: list[int] = []
        self._n = 0
        self._sql_seen = 0
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    @contextmanager
    def span(self, name: str):
        """A span with no Spark accounting (a phase around several calls)."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def call(self, name: str, fn, *args, **kwargs):
        """Run fn(*args, **kwargs); when tracing, as one job group whose
        measures are recorded under ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, name)
        try:
            with self.span(name):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                wall_ms = (time.perf_counter() - t0) * 1000.0
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        t1 = time.perf_counter()
        rec = {"wall_ms": wall_ms, **self._group_measures(group)}
        self.calls.setdefault(name, []).append(rec)
        self.self_ms.append((time.perf_counter() - t1) * 1000.0)
        return out

    def record(self, name: str, **measures: float) -> None:
        """Measures taken by the harness itself, as one more record."""
        if self.enabled:
            self.calls.setdefault(name, []).append(measures)

    def annotate(self, name: str, **measures: float) -> None:
        """Add measures to the latest call recorded under ``name``."""
        if self.enabled:
            self.calls[name][-1].update(measures)

    def _get(self, path: str):
        with urllib.request.urlopen(self._url + path, timeout=30) as r:
            return json.loads(r.read())

    def _group_measures(self, group: str) -> dict:
        sc = self._sc
        # the UI store is fed by the listener bus; drain it before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(group))
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks, shuffle = 0, 0
        for s in stages:
            for attempt in self._get(f"/stages/{s}?details=false"):
                if attempt.get("status") == "SKIPPED":
                    continue
                tasks += attempt.get("numCompleteTasks", 0)
                shuffle += attempt.get("shuffleWriteBytes", 0)
        py_ms, py_bytes = 0.0, 0.0
        if jobs:
            execs = self._get(f"/sql?details=true&planDescription=false"
                              f"&offset={self._sql_seen}&length=100000")
            self._sql_seen += len(execs)
            for ex in execs:
                ex_jobs = set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                              + ex.get("runningJobIds", []))
                if not ex_jobs & jobs:
                    continue
                for node in ex.get("nodes", []):
                    for m in node.get("metrics", []):
                        if m.get("name") == PY_TIME:
                            py_ms += _metric_total(m.get("value", ""))
                        elif m.get("name") == PY_BYTES:
                            py_bytes += _metric_total(m.get("value", ""))
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "shuffle_bytes": shuffle, "python_ms": py_ms,
                "python_bytes": py_bytes}

    def measure(self, name: str, measure: str) -> float:
        """Median over the calls recorded under ``name``."""
        recs = self.calls.get(name, [])
        vals = [r[measure] for r in recs if measure in r]
        if not vals:
            raise KeyError(f"no {measure} recorded for {name}")
        return float(median(vals))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls,
                       "self_ms": self.self_ms}, f)
