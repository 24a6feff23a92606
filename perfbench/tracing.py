"""Tracing for the benchmark's traced run.

Everything here observes the engine from outside:

* ``Tracer`` keeps spans in memory (run -> pass -> op -> build/action)
  and writes them once, at the end of the run;
* ``SparkCounters`` reads Spark's REST API (``/api/v1``) for the jobs,
  stages and SQL executions of each job group;
* ``StreamCounters`` is a ``StreamingQueryListener``: micro-batch jobs
  run on the stream's own thread under a job group named by the
  query's run id, which it records, together with each batch's
  progress.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
import uuid
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, workload: str, seed: int):
        self.run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "run": self.run_id,
                "id": sid,
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.remove(sid)

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """A finished child span, from times measured by the caller."""
        self.spans.append(
            {"run": self.run_id, "id": len(self.spans), "parent": parent,
             "name": name, "start": start, "end": end}
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class StreamCounters(StreamingQueryListener):
    """Records each streaming query's run id and its batch progress."""

    def __init__(self):
        self.run_ids: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def summary(self, run_ids: set[str]) -> dict[str, float]:
        """Batches, rows, trigger time and final state size of the given
        stream runs."""
        mine = [p for p in self.progress if p["run_id"] in run_ids]
        last: dict[str, dict] = {}
        for p in mine:
            last[p["run_id"]] = p
        return {
            "streaming.batches": len(mine),
            "streaming.input_rows": sum(p["rows"] for p in mine),
            "streaming.trigger_s": sum(p["trigger_ms"] for p in mine) / 1000,
            "streaming.state_rows": sum(p["state_rows"] for p in last.values()),
            "streaming.state_mem_bytes": sum(p["state_mem"] for p in last.values()),
        }


_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _seconds_between(start: str | None, end: str | None) -> float:
    """Seconds between two REST timestamps ("2024-01-02T03:04:05.678GMT")."""
    if not (start and end):
        return 0.0
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    return (datetime.strptime(end, fmt) - datetime.strptime(start, fmt)).total_seconds()


def _size_bytes(text: str) -> float:
    """First size in a SQL metric value ("total (min, med, max)\\n1.2 KiB (...)")."""
    m = _SIZE.search(text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkCounters:
    """Per-job-group totals from Spark's REST API, read after the run."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def collect(self) -> None:
        self.jobs = self._get("/jobs")
        self.stages = {
            (s["stageId"], s["attemptId"]): s for s in self._get("/stages?details=false")
        }
        self.sql = self._get("/sql?details=true&planDescription=false&offset=0&length=100000")

    def _jobs_and_stages(self, groups: set[str]) -> tuple[list[dict], list[dict]]:
        jobs = [j for j in self.jobs if j.get("jobGroup") in groups]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s
            for (sid, _), s in self.stages.items()
            if sid in stage_ids and s["status"] != "SKIPPED"
        ]
        return jobs, stages

    def stage_breakdown(self, groups: set[str]) -> list[dict]:
        """Each executed stage of ``groups``: its task time and the bytes
        it read from files, wrote to files and moved through shuffles."""
        _, stages = self._jobs_and_stages(groups)
        return [
            {
                "stage": s["stageId"],
                "name": s["name"],
                "tasks": s["numCompleteTasks"],
                "wall_s": _seconds_between(s.get("submissionTime"), s.get("completionTime")),
                "task_run_s": s["executorRunTime"] / 1000,
                "input_bytes": s["inputBytes"],
                "output_bytes": s["outputBytes"],
                "shuffle_bytes": s["shuffleReadBytes"] + s["shuffleWriteBytes"],
            }
            for s in sorted(stages, key=lambda s: s["stageId"])
        ]

    def totals(self, groups: set[str]) -> dict[str, float]:
        """Jobs, executed stages and their task metrics for ``groups``."""
        jobs, stages = self._jobs_and_stages(groups)
        job_ids = {j["jobId"] for j in jobs}
        py_bytes = 0.0
        for ex in self.sql:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if ex_jobs & job_ids:
                for node in ex.get("nodes", []):
                    for m in node.get("metrics", []):
                        if m["name"] in _PYTHON_METRICS:
                            py_bytes += _size_bytes(m["value"])
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.task_run_s": sum(s["executorRunTime"] for s in stages) / 1000,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "sources.input_bytes": sum(s["inputBytes"] for s in stages),
            "sources.output_bytes": sum(s["outputBytes"] for s in stages),
            "python.data_bytes": py_bytes,
        }
