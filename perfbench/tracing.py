"""Tracing for the benchmark's traced runs, all from outside the program.

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  tags every Spark job with a job group per (workload, op, phase).
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress record.
- ``read_event_log`` reads the uncompressed, non-rolling Spark event
  log and sums task metrics per job, so each job can be charged to the
  span that submitted it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans of one traced run. Times are epoch seconds, so they compare
    with the event log's job submission times."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None, sc=None):
        """Record a span; with a SparkContext, jobs submitted inside it
        carry the job group ``workload|<open span names>|name|op_id``,
        e.g. ``corpus|pq_encode|build|7``."""
        span_id = len(self.spans)
        path = [self.spans[i]["name"] for i in self._stack] + [name]
        record = {
            "span": span_id,
            "name": name,
            "op_id": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": "|".join([self.workload, *path, str(op_id)]),
        }
        self.spans.append(record)
        self._stack.append(span_id)
        if sc is not None:
            sc.setJobGroup(record["group"], record["group"])
        record["start"] = time.time()
        try:
            yield record
        finally:
            record["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class StreamProgress(StreamingQueryListener):
    """Micro-batch progress of every streaming query, keyed by run id.

    ``onQueryStarted`` runs before ``DataStreamWriter.start()`` returns;
    the other events arrive asynchronously, in order, so a query's
    progress is complete once its terminated event has arrived."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.batches: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        record = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self.batches.setdefault(str(p.runId), []).append(record)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, run_ids: list[str], timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated.issuperset(run_ids):
                    return
            time.sleep(0.02)
        raise TimeoutError(f"no terminated event for streaming runs {run_ids}")


def _task_metrics(m: dict) -> dict[str, int]:
    shuffle_read = m.get("Shuffle Read Metrics", {})
    return {
        "executor_run_ms": m.get("Executor Run Time", 0),
        "executor_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "input_rows": m.get("Input Metrics", {}).get("Records Read", 0),
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


# the task metrics each job record sums
TASK_FIELDS = tuple(_task_metrics({}))


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """One record per job of application ``app_id``: group, submission
    time (epoch s), stages and tasks run, and summed task metrics."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if len(paths) != 1:
        raise FileNotFoundError(f"expected one event log for {app_id} in {log_dir}, got {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = {
                    "job_id": ev["Job ID"],
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submitted": ev["Submission Time"] / 1000.0,
                    "stages": set(),
                    "tasks": 0,
                    **{k: 0 for k in TASK_FIELDS},
                }
                jobs[job["job_id"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job["job_id"])
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                for k, v in _task_metrics(ev.get("Task Metrics") or {}).items():
                    job[k] += v
    out = []
    for job in jobs.values():
        job["stages"] = len(job["stages"])
        out.append(job)
    return out
