"""Spans and job groups around the benchmark's calls into the library, and
the per-layer metrics read back from Spark's status REST API.

A traced operation (one catalog call or one pipeline stage) is a root span
with one child span per phase:

* ``read``    - ``sources`` parquet reads (each fires a schema-inference job);
* ``build``   - calls into ``queries`` / ``operators`` / ``functions``; eager
  probe, pin-count and pin jobs fire here;
* ``plan``    - forcing ``queryExecution().executedPlan()`` (Catalyst);
* ``collect`` / ``write`` - the Spark action.

Each phase runs under the Spark job group ``bench:<workload>:<op>:<phase>``,
so every job, stage, task and SQL-node metric is billed to the phase whose
call fired it. Nothing here diffs stage ids.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

ACTION_PHASES = ("collect", "write")

# SQL-node metrics Spark 4.1 puts on every Python-evaluating node
# (ArrowEvalPython, MapInArrow, ...) -> layer metric
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
    "number of output rows": "python.rows",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6, "": 1.0,
}
_METRIC_RE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"10.4 s (2.5 s, ...)"`` -> 10.4.

    Sizes come back in MB (10^6 bytes), times in seconds, counts as is.
    """
    if "\n" in text:  # "total (min, med, max ...)\n<total> (<min>, ...)"
        text = text.split("\n", 1)[1]
    m = _METRIC_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _epoch_s(stamp: str) -> float:
    # "2026-10-17T11:07:17.113GMT"
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory spans for the traced passes; a no-op while ``active`` is
    false, so untraced passes set no job group and force no plan."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.active = False
        self.spans: list = []
        self._op = None
        self._trace = None
        self._root = None

    @contextmanager
    def op(self, name: str, pass_no: int):
        """Root span of one operation; a no-op when tracing is off."""
        if not self.active:
            yield
            return
        self._op, self._trace = name, f"{self.workload}/{pass_no}/{name}"
        span = {"trace": self._trace, "name": name, "parent": None,
                "start": time.perf_counter()}
        self._root = len(self.spans)
        self.spans.append(span)
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self._op = self._trace = self._root = None

    @contextmanager
    def phase(self, name: str):
        """Child span plus the job group ``bench:<workload>:<op>:<phase>``."""
        if not self.active:
            yield
            return
        group = f"bench:{self.workload}:{self._op}:{name}"
        span = {"trace": self._trace, "name": name, "parent": self._root,
                "group": group, "start": time.perf_counter()}
        self.spans.append(span)
        self.sc.setJobGroup(group, group, False)
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def plan(self, df) -> None:
        """Force Catalyst planning under its own span (traced passes only)."""
        if self.active:
            with self.phase("plan"):
                df._jdf.queryExecution().executedPlan()

    def dump(self, path: str, records: list) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": records}, f)


class SparkRest:
    """Reads jobs, stages and SQL executions from the driver's status API."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._seen_jobs: set = set()
        self._seen_sql: set = set()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read().decode())

    def new_records(self):
        """Jobs, stages and SQL executions finished since the last call."""
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("jobs") if j["jobId"] not in self._seen_jobs]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("stages?status=complete&details=false")
            if s["stageId"] in stage_ids
        ]
        sql = [
            e for e in self._get("sql?details=true&planDescription=false&length=100000")
            if e["id"] not in self._seen_sql and e["status"] != "RUNNING"
        ]
        self._seen_sql.update(e["id"] for e in sql)
        return jobs, stages, sql


def attribute(workload: str, jobs, stages, sql, spans, trace_ids) -> dict:
    """Per-operation layer record for the ops of one traced pass.

    Returns ``{op: {...}}`` with phase walls from the spans and job, stage,
    task and Python-node figures billed by job group.
    """
    prefix = f"bench:{workload}:"
    ops: dict = {}

    def rec(op):
        return ops.setdefault(op, {
            "wall_s": 0.0, "phase_s": {}, "jobs": {}, "job_s": {},
            "action_job_s": 0.0, "stages": 0, "tasks": 0, "task_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "input_mb": 0.0, "python": {},
        })

    roots = {i for i, s in enumerate(spans) if s["parent"] is None and s["trace"] in trace_ids}
    for i, s in enumerate(spans):
        if s["trace"] not in trace_ids:
            continue
        if i in roots:
            rec(s["name"])["wall_s"] += s["end"] - s["start"]
        else:
            r = rec(spans[s["parent"]]["name"])
            r["phase_s"][s["name"]] = r["phase_s"].get(s["name"], 0.0) + s["end"] - s["start"]

    job_owner: dict = {}
    action_intervals: dict = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith(prefix):
            continue
        op, phase = group[len(prefix):].rsplit(":", 1)
        job_owner[j["jobId"]] = (op, phase)
        r = rec(op)
        r["jobs"][phase] = r["jobs"].get(phase, 0) + 1
        if "completionTime" in j:
            span = (_epoch_s(j["submissionTime"]), _epoch_s(j["completionTime"]))
            r["job_s"][phase] = r["job_s"].get(phase, 0.0) + span[1] - span[0]
            if phase in ACTION_PHASES:
                action_intervals.setdefault(op, []).append(span)
    for op, iv in action_intervals.items():
        ops[op]["action_job_s"] = union_s(iv)

    # a finished stage belongs to the first job that lists it; later jobs
    # list it again as skipped when they reuse its shuffle output
    stage_job: dict = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            stage_job.setdefault(sid, j["jobId"])
    for s in stages:
        owner = job_owner.get(stage_job.get(s["stageId"]))
        if owner is None or owner[1] not in ACTION_PHASES:
            continue
        r = rec(owner[0])
        r["stages"] += 1
        r["tasks"] += s.get("numCompleteTasks", 0)
        r["task_s"] += s.get("executorRunTime", 0) / 1e3
        r["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        r["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        r["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        r["spill_mb"] += s.get("diskBytesSpilled", 0) / 1e6
        r["input_mb"] += s.get("inputBytes", 0) / 1e6

    for e in sql:
        owners = {job_owner[j] for j in e.get("successJobIds", []) + e.get("failedJobIds", [])
                  if j in job_owner}
        if not owners:
            continue
        op = min(owners)[0]
        py = rec(op)["python"]
        for node in e.get("nodes", []):
            names = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "time to run Python workers" not in names:
                continue
            for name, key in PYTHON_METRICS.items():
                if name in names:
                    py[key] = py.get(key, 0.0) + parse_metric(names[name])
    return ops
