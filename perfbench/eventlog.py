"""Spark event-log parser: per-job task, shuffle, scan and Python-boundary
metrics, grouped by the job description the benchmark sets on each timed
job. The log is enabled by launcher configuration (`spark.eventLog.*`
through PYSPARK_SUBMIT_ARGS), not by engine code.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric names (Spark's accumulable "Name") the layers read.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
SCAN_TIME = "scan time"


@dataclass
class Task:
    run_ms: float
    gc_ms: float
    launch_ms: float
    finish_ms: float
    input_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_ms: float
    spill_bytes: int

    @property
    def duration_ms(self) -> float:
        return self.finish_ms - self.launch_ms


@dataclass
class Stage:
    stage_id: int
    submit_ms: float | None = None
    complete_ms: float | None = None
    accumulables: dict[str, float] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_ms(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return self.complete_ms - self.submit_ms


@dataclass
class Job:
    job_id: int
    description: str
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def jobs_described(self, description: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.description == description]


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        run_ms=_number(m.get("Executor Run Time")),
        gc_ms=_number(m.get("JVM GC Time")),
        launch_ms=_number(info.get("Launch Time")),
        finish_ms=_number(info.get("Finish Time")),
        input_bytes=int(_number((m.get("Input Metrics") or {}).get("Bytes Read"))),
        shuffle_write_bytes=int(_number(sw.get("Shuffle Bytes Written"))),
        shuffle_read_bytes=int(_number(sr.get("Remote Bytes Read"))
                               + _number(sr.get("Local Bytes Read"))),
        fetch_wait_ms=_number(sr.get("Fetch Wait Time")),
        spill_bytes=int(_number(m.get("Disk Bytes Spilled"))),
    )


def parse(lines) -> EventLog:
    """Build an EventLog from an iterable of JSON event lines."""
    log = EventLog()

    def stage(sid: int) -> Stage:
        return log.stages.setdefault(sid, Stage(stage_id=sid))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                description=props.get("spark.job.description") or "",
                stage_ids=list(ev.get("Stage IDs") or []))
        elif kind == "SparkListenerTaskEnd":
            stage(ev["Stage ID"]).tasks.append(_task(ev))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
            for acc in info.get("Accumulables") or []:
                name = acc.get("Name")
                if name:
                    st.accumulables[name] = (st.accumulables.get(name, 0.0)
                                             + _number(acc.get("Value")))
    return log


def read(path: Path) -> EventLog:
    """Parse the one application log Spark wrote under `path`."""
    files = [p for p in path.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {len(files)}")
    with files[0].open() as fh:
        return parse(fh)


def job_layers(log: EventLog, description: str, k: int) -> dict[str, float]:
    """Layer metrics of every Spark job run under one job description (one
    timed benchmark job may start several Spark jobs)."""
    stage_ids = sorted({sid for j in log.jobs_described(description)
                        for sid in j.stage_ids if sid in log.stages})
    stages = [log.stages[sid] for sid in stage_ids]
    tasks = [t for st in stages for t in st.tasks]
    out = {
        "spark.task_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.scan_bytes": float(sum(t.input_bytes for t in tasks)),
        "spark.scan_s": sum(st.accumulables.get(SCAN_TIME, 0.0) for st in stages) / 1e3,
        "spark.shuffle_write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "spark.shuffle_read_bytes": float(sum(t.shuffle_read_bytes for t in tasks)),
        "spark.shuffle_fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1e3,
        "spark.spill_bytes": float(sum(t.spill_bytes for t in tasks)),
    }
    py = [st for st in stages if st.accumulables.get(PY_SENT, 0.0) > 0]
    py_tasks = [t for st in py for t in st.tasks]
    durations = [t.duration_ms for t in py_tasks]
    out.update({
        "extract.python_s": sum(t.run_ms for t in py_tasks) / 1e3,
        "extract.to_python_bytes": sum(st.accumulables[PY_SENT] for st in py),
        "extract.from_python_bytes": sum(st.accumulables.get(PY_RECEIVED, 0.0)
                                         for st in py),
        "partitioning.task_skew": (max(durations) / statistics.median(durations)
                                   if durations and statistics.median(durations) > 0
                                   else 0.0),
        "partitioning.core_idle_s": (sum(st.wall_ms for st in py) * k
                                     - sum(durations)) / 1e3,
    })
    return out
