"""Spark event-log parser.

Reads the uncompressed, non-rolling JSON-lines log a session writes with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``
into jobs, stages and SQL executions, each carrying the numbers the layer
table needs: task count and wall, JVM CPU, GC, shuffle and spill bytes, and the SQL
operator metrics of the Python boundary and of file writes.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# SQL operator metrics, by the name Spark gives them
PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
FILES_WRITTEN = "number of written files"
BYTES_WRITTEN = "written output"
PYTHON_ROWS = "python output rows"  # "number of output rows" of a MapIn* node
_TRACKED = {PYTHON_TIME, PYTHON_SENT, PYTHON_RETURNED, FILES_WRITTEN, BYTES_WRITTEN}


@dataclass
class Stage:
    stage_id: int
    job_id: int = -1
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)

    @property
    def python(self) -> bool:
        """True for a stage that ran Python workers (a mapInPandas stage)."""
        return self.sql.get(PYTHON_TIME, 0) > 0 or self.sql.get(PYTHON_SENT, 0) > 0

    @property
    def skew(self) -> float:
        """Slowest task over the median task, by wall time."""
        if len(self.task_ms) < 2:
            return 1.0
        return max(self.task_ms) / max(1.0, statistics.median(self.task_ms))


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str = ""
    execution_id: int | None = None
    streaming: bool = False
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Execution:
    execution_id: int
    writes: bool = False
    sql: dict[str, float] = field(default_factory=dict)  # driver-side metrics


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    executions: dict[int, Execution]
    app_start_ms: int = 0
    app_end_ms: int = 0

    def stages_of(self, jobs) -> list[Stage]:
        return [self.stages[s] for j in jobs for s in j.stage_ids if s in self.stages]

    def stage_union_s(self, t0_ms: float, t1_ms: float) -> float:
        """Seconds of [t0, t1] during which at least one stage was running."""
        spans = sorted(
            (max(s.submit_ms, t0_ms), min(s.complete_ms, t1_ms))
            for s in self.stages.values()
            if s.complete_ms > t0_ms and s.submit_ms < t1_ms
        )
        covered, cur = 0.0, None
        for a, b in spans:
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        return covered / 1000.0


def _collect_metric_ids(plan: dict, out: dict[int, str]) -> bool:
    """Map accumulator ids to tracked metric names; True if the plan writes."""
    writes = "InsertIntoHadoopFsRelation" in plan.get("nodeName", "") + plan.get("simpleString", "")
    python_node = "MapIn" in plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        name = m.get("name")
        if name in _TRACKED:
            out[int(m["accumulatorId"])] = name
        elif python_node and name == "number of output rows":
            out[int(m["accumulatorId"])] = PYTHON_ROWS
    for child in plan.get("children", []):
        writes = _collect_metric_ids(child, out) or writes
    return writes


def parse(lines) -> EventLog:
    """Parse event-log lines (an iterable of JSON strings)."""
    metric_name: dict[int, str] = {}
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    execs: dict[int, Execution] = {}
    stage_job: dict[int, int] = {}
    log = EventLog(jobs, stages, execs)

    def stage(sid: int) -> Stage:
        if sid not in stages:
            stages[sid] = Stage(sid, stage_job.get(sid, -1))
        return stages[sid]

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind == "SparkListenerApplicationStart":
            log.app_start_ms = ev["Timestamp"]
        elif kind == "SparkListenerApplicationEnd":
            log.app_end_ms = ev["Timestamp"]
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = int(ev["executionId"])
            ex = execs.setdefault(eid, Execution(eid))
            ex.writes = _collect_metric_ids(ev.get("sparkPlanInfo", {}), metric_name) or ex.writes
        elif kind == "SparkListenerDriverAccumUpdates":
            ex = execs.setdefault(int(ev["executionId"]), Execution(int(ev["executionId"])))
            for acc_id, value in ev.get("accumUpdates", []):
                name = metric_name.get(int(acc_id))
                if name is not None:
                    ex.sql[name] = ex.sql.get(name, 0.0) + float(value)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], ev.get("Submission Time", 0))
            job.group = props.get("spark.jobGroup.id") or ""
            job.streaming = "sql.streaming.queryId" in props or "streaming.sql.batchId" in props
            if props.get("spark.sql.execution.id") is not None:
                job.execution_id = int(props["spark.sql.execution.id"])
            job.stage_ids = list(ev.get("Stage IDs", []))
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
            jobs[job.job_id] = job
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            st.submit_ms = info.get("Submission Time", 0)
            st.complete_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.output_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name = metric_name.get(int(acc.get("ID", -1)))
                if name is not None and "Update" in acc:
                    st.sql[name] = st.sql.get(name, 0.0) + float(acc["Update"])
    for st in stages.values():
        if st.job_id < 0:
            st.job_id = stage_job.get(st.stage_id, -1)
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
