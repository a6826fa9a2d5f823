"""Reader for Spark's JSON event log (spark.eventLog.enabled, uncompressed,
not rolled): jobs, stages and per-task metrics.

Only the fields the layer report uses are kept.  Times are epoch
milliseconds as Spark writes them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# SQL metrics of the Python-UDF / mapInArrow operators
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Task:
    run_ms: int
    cpu_ns: int
    gc_ms: int
    fetch_wait_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Stage:
    id: int
    parents: list[int]
    tasks: list[Task] = field(default_factory=list)
    sql_metrics: dict[str, float] = field(default_factory=dict)
    completed: bool = False


@dataclass
class Job:
    id: int
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def depth(self, stage_id: int) -> int:
        """Number of shuffle boundaries between the stage and a stage with
        no parent (a scan).  0 = the scan stage."""
        memo: dict[int, int] = {}

        def d(sid: int) -> int:
            if sid not in memo:
                st = self.stages.get(sid)
                parents = st.parents if st else []
                memo[sid] = 1 + max(map(d, parents)) if parents else 0
            return memo[sid]
        return d(stage_id)

    def job_stages(self, job: Job) -> list[Stage]:
        """Stages the job actually ran (AQE re-lists earlier query stages
        of the same plan as skipped parents; those ran in earlier jobs)."""
        return [self.stages[s] for s in job.stage_ids
                if s in self.stages and self.stages[s].completed]


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    return Task(
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        fetch_wait_ms=rd.get("Fetch Wait Time", 0),
        shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
    )


def parse(lines) -> EventLog:
    """Build an EventLog from an iterable of JSON event lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            infos = ev.get("Stage Infos", [])
            log.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"],
                                         [s["Stage ID"] for s in infos])
            for s in infos:  # skipped parents are only described here
                log.stages.setdefault(s["Stage ID"],
                                      Stage(s["Stage ID"], s.get("Parent IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = log.stages.setdefault(si["Stage ID"],
                                       Stage(si["Stage ID"], si.get("Parent IDs", [])))
            st.completed = True
            for a in si.get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RETURNED):
                    st.sql_metrics[a["Name"]] = float(a["Value"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            log.stages.setdefault(sid, Stage(sid, [])).tasks.append(_task(ev))
    return log


def read_dir(event_dir: Path) -> EventLog:
    """Parse the single application log Spark wrote into `event_dir`."""
    logs = [p for p in event_dir.iterdir()
            if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    with logs[0].open() as f:
        return parse(f)
