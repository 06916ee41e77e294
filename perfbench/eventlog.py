"""Stdlib reader for Spark's JSON-lines event log (uncompressed).

Reads the job (with its ``spark.jobGroup.id`` property, the span id the
tracer set), the job's stages, and per-task metrics: executor run, CPU and
GC time, shuffle bytes, spill, and the SQL metrics of Arrow/pandas UDF
nodes ("time to start/initialize/run Python workers", "data sent to Python
workers"). Times are converted to seconds since the epoch, the tracer's
clock.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_mb",
}
MB = 1024 * 1024


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float | None
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class Log:
    jobs: dict[int, Job]
    tasks: list[Task]

    def job_of_stage(self) -> dict[int, int]:
        """Stage id -> the first job that lists it (the one that ran it)."""
        out: dict[int, int] = {}
        for j in sorted(self.jobs.values(), key=lambda j: j.id):
            for s in j.stages:
                out.setdefault(s, j.id)
        return out


def _files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    # a v2 event-log directory holds events_<n>_<app> parts; order by n
    parts = [p for p in path.rglob("events_*") if p.is_file()]
    return sorted(parts, key=lambda p: (str(p.parent), int(p.name.split("_")[1])))


def read(path: str | Path) -> Log:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for f in _files(Path(path)):
        with f.open(encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1000, None, list(e["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    tasks.append(_task(e))
    return Log(jobs, tasks)


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e["Task Metrics"]
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    python: dict[str, float] = {}
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            v = float(acc.get("Update") or 0)
            python[key] = python.get(key, 0.0) + (v / MB if key.endswith("_mb") else v / 1000)
    return Task(
        stage=e["Stage ID"],
        launch=info["Launch Time"] / 1000,
        finish=info["Finish Time"] / 1000,
        run_s=m.get("Executor Run Time", 0) / 1000,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000,
        shuffle_read_mb=(sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        shuffle_write_mb=sw.get("Shuffle Bytes Written", 0) / MB,
        spill_mb=m.get("Disk Bytes Spilled", 0) / MB,
        python=python,
    )


def busy_union(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def summarize(log: Log, job_ids: set[int]) -> dict[str, float]:
    """Totals over the tasks of ``job_ids``: executor, GC, shuffle, spill,
    Python-worker metrics, task count, and task skew (max over stages with
    at least two tasks of max/median task run time)."""
    stage_job = log.job_of_stage()
    out = {k: 0.0 for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                            "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                            *PYTHON_METRICS.values())}
    by_stage: dict[int, list[float]] = {}
    for t in log.tasks:
        if stage_job.get(t.stage) not in job_ids:
            continue
        out["tasks"] += 1
        out["executor_run_s"] += t.run_s
        out["executor_cpu_s"] += t.cpu_s
        out["gc_s"] += t.gc_s
        out["shuffle_read_mb"] += t.shuffle_read_mb
        out["shuffle_write_mb"] += t.shuffle_write_mb
        out["spill_mb"] += t.spill_mb
        for k, v in t.python.items():
            out[k] += v
        by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
    skews = [max(d) / statistics.median(d) for d in by_stage.values()
             if len(d) >= 2 and statistics.median(d) > 0]
    out["task_skew_max"] = max(skews, default=1.0)
    out["jobs"] = float(len(job_ids))
    return out
