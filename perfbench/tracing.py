"""In-memory spans around the benchmark's calls into each layer, and the
Spark executor metrics attributed to them.

A span sets a Spark job group for its duration, so every job the layer
call submits is attributable to it afterwards through the local status
REST API. Streaming micro-batches run on the query's own thread under a
job group equal to the query's run id; spans record those ids in
``groups``. Spans are kept in memory and written out once at the end.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from stats import self_times


class NullTracer:
    """The untraced run: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "start": time.time(), "end": None, "parent": parent,
              "groups": [f"perfbench-{idx}"], "attrs": dict(attrs)}
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp["groups"][0], name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(self.spans[parent]["groups"][0], self.spans[parent]["name"])

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for sp, st in zip(self.spans, selfs):
                f.write(json.dumps({**sp, "self_s": st}, ensure_ascii=False) + "\n")


class SparkStatus:
    """Reads job, stage and SQL metrics from the driver's status REST API
    (the UI server on localhost)."""

    def __init__(self, sc) -> None:
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, timeout_s: float = 60.0) -> dict:
        """Jobs, stage attempts and SQL executions once every job has
        finished and the stage metrics read the same twice in a row (the
        status store is fed by an asynchronous listener)."""
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = self._get("/jobs")
            stages = self._get("/stages")
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            key = [(s["stageId"], s["attemptId"], s["status"], s.get("executorRunTime"))
                   for s in stages]
            if done and key == prev:
                break
            if time.time() > deadline:
                raise TimeoutError("status store did not settle")
            prev = key
            time.sleep(0.5)
        sql = self._get("/sql?details=true&planDescription=false&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_quantiles(self, stage_id: int, attempt: int) -> dict:
        return self._get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")


class Attribution:
    """Executor metrics per span, from one status snapshot."""

    def __init__(self, snapshot: dict) -> None:
        self.group_jobs: dict[str, list[dict]] = {}
        for j in snapshot["jobs"]:
            g = j.get("jobGroup")
            if g is not None:
                self.group_jobs.setdefault(g, []).append(j)
        self.stages: dict[int, list[dict]] = {}
        for s in snapshot["stages"]:
            if s["status"] == "COMPLETE":
                self.stages.setdefault(s["stageId"], []).append(s)
        self.sql_by_job: dict[int, dict] = {}
        for ex in snapshot["sql"]:
            for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
                self.sql_by_job[jid] = ex

    def jobs(self, groups: list[str]) -> list[dict]:
        return [j for g in groups for j in self.group_jobs.get(g, [])]

    def stage_attempts(self, groups: list[str]) -> list[dict]:
        ids = sorted({sid for j in self.jobs(groups) for sid in j["stageIds"]})
        return [a for sid in ids for a in self.stages.get(sid, [])]

    def executions(self, groups: list[str]) -> list[dict]:
        seen, out = set(), []
        for j in self.jobs(groups):
            ex = self.sql_by_job.get(j["jobId"])
            if ex is not None and ex["id"] not in seen:
                seen.add(ex["id"])
                out.append(ex)
        return out

    def totals(self, groups: list[str]) -> dict:
        atts = self.stage_attempts(groups)
        return {
            "busy_s": sum(a["executorRunTime"] for a in atts) / 1e3,
            "gc_s": sum(a["jvmGcTime"] for a in atts) / 1e3,
            "spill_bytes": sum(a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in atts),
            "shuffle_bytes": sum(a["shuffleWriteBytes"] for a in atts),
            "tasks": sum(a["numCompleteTasks"] for a in atts),
        }


def node_metric(node: dict, name: str) -> float:
    """A SQL plan node's metric as a number ("1,234" -> 1234.0; 0 if absent).
    Only plain counters are parsed; timing and size metrics carry text."""
    for m in node.get("metrics", []):
        if m["name"] == name:
            return float(m["value"].replace(",", "").split()[0])
    return 0.0
