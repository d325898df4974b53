"""In-memory spans and Spark monitoring-API readers for the traced run.

Spans are recorded only from the benchmark's own code, around calls
into the program's public functions.  They stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Spans with a name, start, end, parent and a shared trace id."""

    def __init__(self, enabled: bool, prefix: str = ""):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = (f"{prefix}{n}" for n in itertools.count(1))
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, trace_id: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else "",
               "trace": trace_id, "name": name, "start": time.time(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: str,
            **attrs) -> None:
        """Record a finished span measured elsewhere (Spark stages)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "parent": parent,
                               "trace": "", "name": name, "start": start,
                               "end": end, **attrs})

    def write(self, path: str) -> None:
        with open(path, "a") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _epoch(ts: str | None) -> float | None:
    """Spark REST timestamps look like 2026-01-01T00:00:00.123GMT."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                             ).replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Reads jobs, stages and tasks of the running application from
    Spark's monitoring REST API on the application's UI port."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs_of_group(self, group: str, timeout: float = 30.0) -> list:
        """Finished jobs of one job group; waits for the listener bus to
        report every job of the group as finished."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self.get("/jobs")
                    if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or \
                    time.time() > deadline:
                return jobs
            time.sleep(0.1)

    def stages(self, stage_ids) -> list[dict]:
        """Completed stage attempts for ``stage_ids`` (skipped stages,
        whose output was reused, are not listed as complete)."""
        want = set(stage_ids)
        return [s for s in self.get("/stages?status=complete")
                if s["stageId"] in want]

    def task_run_s(self, stage: dict) -> list[float]:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         "/taskList?length=100000")
        return [t["taskMetrics"]["executorRunTime"] / 1000.0
                for t in tasks if t.get("taskMetrics")]

    def action_profile(self, group: str, t0: float, t1: float,
                       tracer: Tracer, parent: str, cores: int) -> dict:
        """Spark-side numbers for one timed action run under job group
        ``group`` between wall times t0 and t1.  The scan stage is the
        stage with the largest executor run time: Python UDF time
        shows in executorRunTime, not in executorCpuTime."""
        jobs = self.jobs_of_group(group)
        stage_ids = [s for j in jobs for s in j["stageIds"]]
        stages = self.stages(stage_ids)
        for j in jobs:
            tracer.add(f"spark.job.{j['jobId']}",
                       _epoch(j.get("submissionTime")) or t0,
                       _epoch(j.get("completionTime")) or t1, parent,
                       stages=j["stageIds"])
        run_s = 0.0
        for s in stages:
            tracer.add(f"spark.stage.{s['stageId']}",
                       _epoch(s.get("submissionTime")) or t0,
                       _epoch(s.get("completionTime")) or t1, parent,
                       tasks=s["numTasks"],
                       run_s=s["executorRunTime"] / 1000.0)
            run_s += s["executorRunTime"] / 1000.0
        out = {
            "jobs": len(jobs),
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "core_busy_frac": run_s / (cores * (t1 - t0)),
        }
        if not stages:
            return out
        scan = max(stages, key=lambda s: s["executorRunTime"])
        s0 = _epoch(scan.get("submissionTime")) or t0
        s1 = _epoch(scan.get("completionTime")) or t1
        task_s = sorted(self.task_run_s(scan)) or [0.0]
        out.update({
            "scan_tasks": scan["numTasks"],
            "pre_scan_s": max(0.0, s0 - t0),
            "scan_run_s": s1 - s0,
            "post_scan_s": max(0.0, t1 - s1),
            "scan_task_s.p50": task_s[len(task_s) // 2],
            "scan_task_s.max": task_s[-1],
        })
        return out
