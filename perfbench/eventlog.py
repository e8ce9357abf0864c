"""Reader for Spark's JSON event log (uncompressed, not rolled).

Only the traced run enables the log (see ``run.py``). Three things are
read from it: jobs with their job group, completed stages with their task
metrics, and Structured Streaming progress events.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int


@dataclass
class Stage:
    stage_id: int
    group: str | None
    submit_ms: int
    complete_ms: int
    tasks: int
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Progress:
    run_id: str
    batch_id: int
    at_ms: int
    batch_ms: int
    input_rows: int
    state_rows: int
    state_commit_ms: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    progress: list[Progress] = field(default_factory=list)


_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def _iso_ms(stamp: str) -> int:
    return int(datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000)


def parse_lines(lines) -> EventLog:
    log = EventLog()
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs.append(
                Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"])
            )
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Completion Time" not in info or "Submission Time" not in info:
                continue  # skipped stage: never ran
            st = Stage(
                info["Stage ID"],
                stage_group.get(info["Stage ID"]),
                info["Submission Time"],
                info["Completion Time"],
                info["Number of Tasks"],
            )
            for acc in info.get("Accumulables", ()):
                attr = _STAGE_METRICS.get(acc.get("Name"))
                if attr is not None:
                    setattr(st, attr, int(acc["Value"]))
            log.stages.append(st)
        elif kind == _PROGRESS:
            p = ev["progress"]
            ops = p.get("stateOperators") or ()
            log.progress.append(
                Progress(
                    p["runId"],
                    p["batchId"],
                    _iso_ms(p["timestamp"]),
                    int(p.get("batchDuration") or p["durationMs"].get("triggerExecution", 0)),
                    sum(int(s.get("numInputRows") or 0) for s in p.get("sources", ())),
                    sum(int(o.get("numRowsTotal") or 0) for o in ops),
                    sum(int(o.get("commitTimeMs") or 0) for o in ops),
                )
            )
    return log


def read_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path`` (one per application)."""
    log = EventLog()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            part = parse_lines(fh)
        log.jobs += part.jobs
        log.stages += part.stages
        log.progress += part.progress
    return log
