"""Reader for Spark's JSON event log (`spark.eventLog.enabled`).

The traced benchmark run writes the log uncompressed into its work
directory and parses it after the session stops. Only the fields the
per-layer metrics need are kept: per job its description, SQL execution
id and time span; per stage its operator scopes, time span and task
metrics."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_COMPRESSED = (".zst", ".zstd", ".lz4", ".lzf", ".snappy")


@dataclass
class Task:
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


@dataclass(eq=False)
class Stage:
    stage_id: int
    scopes: list[str]
    submit_s: float = 0.0
    complete_s: float = 0.0
    tasks: list[Task] = field(default_factory=list)
    # numeric SQL metrics of the stage, such as "data sent to Python
    # workers", summed over the plan nodes that report them
    sql_metrics: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return max(0.0, self.complete_s - self.submit_s)


@dataclass
class Job:
    job_id: int
    description: str
    execution_id: str | None
    submit_s: float
    end_s: float = 0.0
    stages: list[Stage] = field(default_factory=list)


def log_file(event_dir: str) -> str:
    """The one event-log file Spark wrote into `event_dir`. A compressed
    log is refused rather than misread."""
    files = [os.path.join(event_dir, e) for e in os.listdir(event_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if len(files) != 1:
        raise FileNotFoundError(
            f"expected one event log in {event_dir}, found {files}")
    if files[0].endswith(_COMPRESSED):
        raise ValueError(f"compressed event log {files[0]}: run with "
                         "spark.eventLog.compress=false")
    return files[0]


def _task(m: dict) -> Task:
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return Task(
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        shuffle_read_bytes=(sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
    )


def parse_events(lines) -> list[Job]:
    """Jobs (with their completed stages and tasks) from event-log
    lines, in submission order. Times are epoch seconds."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.job.description") or "",
                      props.get("spark.sql.execution.id"),
                      e["Submission Time"] / 1e3)
            jobs[job.job_id] = job
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_s = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            stage = stages.setdefault(sid, Stage(sid, []))
            stage.tasks.append(_task(e.get("Task Metrics") or {}))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            stage = stages.setdefault(sid, Stage(sid, []))
            stage.scopes = [json.loads(r["Scope"])["name"]
                            for r in info.get("RDD Info", [])
                            if r.get("Scope")]
            stage.submit_s = info.get("Submission Time", 0) / 1e3
            stage.complete_s = info.get("Completion Time", 0) / 1e3
            stage.sql_metrics = {}
            for acc in info.get("Accumulables", []):
                name, value = acc.get("Name") or "", acc.get("Value")
                if name.startswith("internal.") or value is None:
                    continue
                try:
                    stage.sql_metrics[name] = (stage.sql_metrics.get(name, 0)
                                               + float(value))
                except (TypeError, ValueError):
                    continue
    for sid, stage in sorted(stages.items()):
        if sid in stage_job and stage_job[sid] in jobs:
            jobs[stage_job[sid]].stages.append(stage)
    return [jobs[j] for j in sorted(jobs)]


def read_jobs(event_dir: str) -> list[Job]:
    with open(log_file(event_dir), encoding="utf-8") as fh:
        return parse_events(fh)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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
